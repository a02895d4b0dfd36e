"""TableIO conformance suite (SURVEY.md §7.0's promised swap seam).

The manifest layer mirrors Iceberg snapshot/commit semantics over plain
files; SURVEY promises a real Iceberg catalog is "a config swap". This
suite IS that contract: every behavior here is stated in terms any
table-format backend must satisfy — atomic commit visibility,
compare-and-swap refusal of conflicting commits, idempotent re-commit
(replay safety), and reader isolation against immutable snapshots. A
future `format('iceberg')` implementation plugs in as a new fixture
param below and must pass unchanged; today the suite runs (and gates)
the Parquet/JSON Manifest.

Reference parity: the semantics re-expressed are the reference's SQLite
tracking table (/root/reference/database_manager.py:21-103) — processed
markers, in-process leases, change-detection hashes — lifted to
versioned-snapshot form.
"""

from __future__ import annotations

import json
import os

import pytest

from anomalydetection_spark.sources.manifest import Manifest

NOW = "2026-01-01T00:00:00"


@pytest.fixture(params=["parquet_manifest"])
def table_io(request, tmp_path):
    # future backends (e.g. an Iceberg catalog when a jar is present)
    # register as params here and must pass every test unchanged
    if request.param == "parquet_manifest":
        return Manifest(str(tmp_path / "m"))
    raise NotImplementedError(request.param)


def _recs(*pids, hash_="abc", verdict="pass", nv=0):
    return [
        {
            "partition_id": p,
            "snapshot_hash": hash_,
            "n_rows": 10,
            "n_violations": nv,
            "verdict": verdict,
            "metrics": {"k": p},
        }
        for p in pids
    ]


def test_commit_is_atomically_visible(table_io):
    """A committed version is fully visible or not at all: after
    commit, CURRENT points at a complete snapshot containing every
    record of the commit; before it, readers see the prior state."""
    assert table_io.current_version() == 0
    assert table_io.load() == {}
    v = table_io.commit_validated(_recs(1, 2, 3), "r1", NOW)
    assert v == 1
    state = table_io.load()
    assert set(state) == {"1", "2", "3"}
    assert all(r["status"] == "validated" for r in state.values())


def test_partial_write_is_invisible_to_readers(table_io):
    """Crash debris (a temp pointer file never renamed, a snapshot
    payload torn mid-write and never published) must not change what
    readers see, nor block the next commit. A snapshot is published
    only whole: the Manifest hard-links its fsynced temp payload to the
    version name, and from then on it is committed whatever happens to
    the CURRENT hint (tests/test_manifest.py's crash tests)."""
    table_io.commit_validated(_recs(1), "r1", NOW)
    before = table_io.load()
    # crash case A: temp CURRENT pointer never renamed
    with open(os.path.join(table_io.path, "_tmpcur_deadbeef"), "w") as f:
        f.write("v99.json")
    # crash case B: the next snapshot's payload torn mid-write, before
    # it was published
    with open(os.path.join(table_io.path, "_tmp_deadbeef"), "w") as f:
        f.write(json.dumps({"version": 2, "partitions": {"9": {}}})[:20])
    assert table_io.load() == before
    assert table_io.current_version() == 1
    assert table_io.commit_validated(_recs(2), "r2", NOW) == 2
    assert set(table_io.load()) == {"1", "2"}


def test_conflicting_commit_from_same_base_is_refused(table_io, monkeypatch):
    """Compare-and-swap: when a concurrent writer publishes the target
    snapshot after this commit read its base, the commit must fail
    loudly instead of clobbering — the Iceberg commit shape."""
    table_io.commit_validated(_recs(1), "r1", NOW)
    racer = type(table_io)(table_io.path)
    load = type(table_io).load

    def load_then_racer_commits(self, version=None):
        state = load(self, version)
        if self is table_io:
            racer.commit_validated(_recs(3), "r3", NOW)
        return state

    monkeypatch.setattr(type(table_io), "load", load_then_racer_commits)
    with pytest.raises(RuntimeError, match="concurrent manifest commit"):
        table_io.commit_validated(_recs(2), "r2", NOW)
    monkeypatch.undo()
    # the loser's failed commit changed nothing visible: the racer's
    # snapshot is current
    assert table_io.current_version() == 2
    assert set(table_io.load()) == {"1", "3"}


def test_recommit_is_idempotent_for_resume(table_io):
    """Replaying a round's commit (same records, same run) must leave
    partition state semantically identical, and the should-process
    predicate must see nothing pending — the resume contract."""
    table_io.commit_validated(_recs(1, 2), "r1", NOW)
    s1 = table_io.load()
    table_io.commit_validated(_recs(1, 2), "r1", NOW)
    s2 = table_io.load()
    assert s1 == s2  # no double-count, no verdict drift
    # version history advanced, but the snapshot CONTENT is stable
    assert table_io.current_version() == 2


def test_committed_snapshots_are_immutable_reader_isolation(table_io):
    """A reader pinned to version N sees identical bytes before and
    after a writer commits N+1, and CURRENT always resolves to a
    complete, parseable snapshot (no torn pointer)."""
    table_io.commit_validated(_recs(1), "r1", NOW)
    pinned_path = os.path.join(table_io.path, "v1.json")
    with open(pinned_path) as f:
        pinned_before = f.read()
    table_io.commit_validated(_recs(2, 3), "r2", NOW)
    with open(pinned_path) as f:
        assert f.read() == pinned_before  # snapshot never rewritten
    with open(os.path.join(table_io.path, "CURRENT")) as f:
        cur = f.read().strip()
    with open(os.path.join(table_io.path, cur)) as f:
        doc = json.load(f)
    assert set(doc["partitions"]) == {"1", "2", "3"}


def test_metrics_merge_preserves_lineage_without_rehash(table_io):
    """update_metrics (the feedback path) merges verdict/metrics but
    must not touch snapshot_hash or status — data unchanged means the
    should-process predicate stays quiet."""
    table_io.commit_validated(_recs(1, hash_="h1", nv=5), "r1", NOW)
    table_io.update_metrics(
        [{"partition_id": 1, "n_violations": 0, "verdict": "pass",
          "metrics": {"fb": True}}],
        "r2",
        NOW,
    )
    rec = table_io.load()["1"]
    assert rec["snapshot_hash"] == "h1"
    assert rec["status"] == "validated"
    assert rec["n_violations"] == 0
    assert json.loads(rec["metrics_json"])["fb"] is True
    assert json.loads(rec["metrics_json"])["k"] == 1  # merge, not replace
