"""Checkpoint-manifest semantics: snapshot hashing, should-process
predicate, atomic versioned commits (SURVEY.md §5 item 5; mirrors
the reference's database_manager.py:84-103 and
log_retriever.py:167-172)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from anomalydetection_spark.sources.manifest import (
    SNAPSHOT_HASH_VERSION,
    Manifest,
    partition_snapshots,
)


def test_snapshot_hash_order_independent(spark, docs):
    s1 = {
        r.partition_id: r.snapshot_hash
        for r in partition_snapshots(docs).collect()
    }
    shuffled = docs.repartition(3)
    s2 = {
        r.partition_id: r.snapshot_hash
        for r in partition_snapshots(shuffled).collect()
    }
    assert s1 == s2


def test_snapshot_hash_detects_change(spark, docs):
    s1 = {
        r.partition_id: r.snapshot_hash
        for r in partition_snapshots(docs).collect()
    }
    mutated = docs.withColumn(
        "doc_id",
        F.when(
            (F.col("partition_id") == 1) & (F.col("doc_id") == "doc1"),
            F.lit("docX"),
        ).otherwise(F.col("doc_id")),
    )
    s2 = {
        r.partition_id: r.snapshot_hash
        for r in partition_snapshots(mutated).collect()
    }
    changed = {p for p in s1 if s1[p] != s2[p]}
    assert changed == {1} or changed == set()  # doc1 may not be in part 1
    # force a guaranteed change
    mutated2 = docs.withColumn(
        "doc_id",
        F.when(F.col("partition_id") == 1, F.concat(F.col("doc_id"), F.lit("_m")))
        .otherwise(F.col("doc_id")),
    )
    s3 = {
        r.partition_id: r.snapshot_hash
        for r in partition_snapshots(mutated2).collect()
    }
    assert {p for p in s1 if s1[p] != s3[p]} == {1}


def test_pending_then_validated_then_skip(spark, docs, tmp_path):
    m = Manifest(str(tmp_path / "manifest"))
    snaps = partition_snapshots(docs)
    all_parts = sorted(
        r.partition_id for r in snaps.select("partition_id").collect()
    )
    assert m.pending_partitions(snaps) == all_parts

    records = [
        {
            "partition_id": r.partition_id,
            "snapshot_hash": r.snapshot_hash,
            "n_rows": r.n_rows,
            "n_violations": 0,
            "verdict": "pass",
            "metrics": {"n_rows": r.n_rows},
        }
        for r in snaps.collect()
    ]
    v = m.commit_validated(records, "run1", "2024-01-01T00:00:00Z")
    assert v >= 1
    assert m.pending_partitions(snaps) == []


def test_changed_partition_repends(spark, docs, tmp_path):
    m = Manifest(str(tmp_path / "manifest"))
    snaps = partition_snapshots(docs)
    records = [
        {
            "partition_id": r.partition_id,
            "snapshot_hash": r.snapshot_hash,
            "n_rows": r.n_rows,
            "verdict": "pass",
        }
        for r in snaps.collect()
    ]
    m.commit_validated(records, "run1", "t0")
    mutated = docs.withColumn(
        "doc_id",
        F.when(F.col("partition_id") == 2, F.concat("doc_id", F.lit("_m")))
        .otherwise(F.col("doc_id")),
    )
    assert m.pending_partitions(partition_snapshots(mutated)) == [2]


def test_in_process_record_from_old_manifest_is_pending(spark, docs, tmp_path):
    """Older engines committed an ``in_process`` lease record before
    validating. Such a record, even with a matching hash, is pending:
    only ``validated`` records are skipped."""
    snaps = partition_snapshots(docs).collect()
    first = snaps[0]
    mdir = tmp_path / "manifest"
    mdir.mkdir()
    state = {
        str(r.partition_id): {
            "partition_id": r.partition_id,
            "snapshot_hash": r.snapshot_hash,
            "status": "validated",
            "run_id": "old",
            "validated_at": "t0",
        }
        for r in snaps
    }
    state[str(first.partition_id)].update(
        status="in_process", leased_at="t1", run_id="dead"
    )
    (mdir / "v1.json").write_text(json.dumps(
        {"version": 1, "run_id": "dead",
         "hash_version": SNAPSHOT_HASH_VERSION,
         "partitions": state}
    ))
    (mdir / "CURRENT").write_text("v1.json")
    m = Manifest(str(mdir))
    assert m.pending_partitions(snaps) == [first.partition_id]


def test_stale_base_fails_instead_of_clobbering(tmp_path, monkeypatch):
    """A writer whose base version went stale between its read and its
    commit must not overwrite the newer version: it fails loudly and
    the other run's records stay committed."""
    import pytest

    mdir = str(tmp_path / "manifest")
    a, b = Manifest(mdir), Manifest(mdir)
    a.commit_validated([{"partition_id": 0, "snapshot_hash": "h0"}], "r0", "t0")
    load = Manifest.load

    def load_then_other_commits(self, version=None):
        state = load(self, version)
        if self is b:
            a.commit_validated(
                [{"partition_id": 1, "snapshot_hash": "h1"}], "rA", "t1"
            )
        return state

    monkeypatch.setattr(Manifest, "load", load_then_other_commits)
    with pytest.raises(RuntimeError, match="concurrent manifest commit"):
        b.commit_validated(
            [{"partition_id": 2, "snapshot_hash": "h2"}], "rB", "t2"
        )
    monkeypatch.undo()
    assert a.current_version() == 2
    assert sorted(a.load()) == ["0", "1"]


def test_concurrent_writers_lose_no_committed_record(tmp_path):
    """More writer threads than cores, each committing its own
    partition and retrying when it loses the race: every commit that
    returned is in the final state (a writer that overwrote a newer
    version would drop one)."""
    import sys
    import threading

    mdir = str(tmp_path / "manifest")
    n = 16
    committed = []
    lock = threading.Lock()

    def writer(pid):
        m = Manifest(mdir)
        rec = [{"partition_id": pid, "snapshot_hash": f"h{pid}"}]
        for _ in range(1000):
            try:
                m.commit_validated(rec, f"r{pid}", "t0")
            except RuntimeError:
                continue
            with lock:
                committed.append(pid)
            return

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=writer, args=(pid,)) for pid in range(n)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert sorted(committed) == list(range(n))
    assert sorted(int(p) for p in Manifest(mdir).load()) == list(range(n))
    assert Manifest(mdir).current_version() == n


def test_concurrent_commit_detected(tmp_path):
    """Two writers committing from the same base version: the second
    rename used to silently clobber the first commit — the exclusive
    version-file link now fails the loser loudly."""
    import pytest

    m1 = Manifest(str(tmp_path / "manifest"))
    m2 = Manifest(str(tmp_path / "manifest"))
    rec = {"partition_id": 0, "snapshot_hash": "h0", "verdict": "pass"}
    # both read base 0; m1 commits v1 first
    m1.commit_validated([rec], "runA", "t0")
    # m2 commits the state it computed against base 0: it also targets v1
    with pytest.raises(RuntimeError, match="concurrent manifest commit"):
        m2._commit_state({}, "runB", base=0)
    assert list(m1.load()) == ["0"]
    assert m1.load()["0"]["run_id"] == "runA"


def test_commit_is_versioned_and_atomic(tmp_path):
    m = Manifest(str(tmp_path / "manifest"))
    m.commit_validated(
        [{"partition_id": 0, "snapshot_hash": "h0", "verdict": "pass"}],
        "r1", "t0",
    )
    v1 = m.current_version()
    m.commit_validated(
        [{"partition_id": 1, "snapshot_hash": "h1", "verdict": "fail"}],
        "r2", "t1",
    )
    v2 = m.current_version()
    assert v2 == v1 + 1
    # previous versions remain readable (time travel / lineage)
    with open(os.path.join(m.path, f"v{v1}.json")) as f:
        old = json.load(f)
    assert list(old["partitions"]) == ["0"]
    # current has both, with run lineage preserved per partition
    state = m.load()
    assert state["0"]["run_id"] == "r1"
    assert state["1"]["run_id"] == "r2"


def test_crash_before_commit_is_invisible(tmp_path):
    """A torn write (temp file left behind) must not affect reads."""
    m = Manifest(str(tmp_path / "manifest"))
    m.commit_validated(
        [{"partition_id": 0, "snapshot_hash": "h0", "verdict": "pass"}],
        "r1", "t0",
    )
    # simulate a crash: stray temp files from a dead writer
    with open(os.path.join(m.path, "_tmp_dead"), "w") as f:
        f.write("{corrupt")
    state = m.load()
    assert state["0"]["snapshot_hash"] == "h0"
    assert m.current_version() == 1


@pytest.mark.parametrize(
    "crash_at", ["after_temp_write", "after_link", "before_current_write"]
)
def test_crash_inside_commit_never_wedges_the_manifest(
    tmp_path, monkeypatch, crash_at
):
    """A commit killed inside its own window — its temp file written,
    its version file linked, or its CURRENT hint not yet written —
    never stops the next commit, and the final records equal a run that
    never crashed. A crash after the link has committed: the next reader
    rolls forward past the stale CURRENT hint. No ``_tmpcur_`` file ever
    appears (the hint is written in place), and the next commit sweeps a
    dead writer's temp file older than its own payload while a fresh
    one — a live writer's — stays."""

    class Killed(Exception):
        pass

    r1 = [{"partition_id": 0, "snapshot_hash": "h0", "verdict": "pass"}]
    r2 = [{"partition_id": 1, "snapshot_hash": "h1", "verdict": "fail"}]
    clean = Manifest(str(tmp_path / "clean"))
    clean.commit_validated(r1, "r1", "t0")
    clean.commit_validated(r2, "r2", "t1")

    m = Manifest(str(tmp_path / "crashed"))
    m.commit_validated(r1, "r1", "t0")
    link, real_open = os.link, open
    current = os.path.join(m.path, "CURRENT")

    def link_after(src, dst):
        if crash_at == "after_temp_write":
            raise Killed
        link(src, dst)
        if crash_at == "after_link":
            raise Killed

    def open_before_current(path, mode="r", *args, **kwargs):
        if path == current and "w" in mode and (
            crash_at == "before_current_write"
        ):
            raise Killed
        return real_open(path, mode, *args, **kwargs)

    import builtins

    monkeypatch.setattr(os, "link", link_after)
    monkeypatch.setattr(builtins, "open", open_before_current)
    with pytest.raises(Killed):
        m.commit_validated(r2, "r2", "t1")
    monkeypatch.undo()

    committed = crash_at != "after_temp_write"
    assert Manifest(m.path).current_version() == (2 if committed else 1)
    # a killed process's temp payload (its finally never ran), back-dated
    # before the next commit's own, and a live writer's fresh one
    stray, fresh = (
        os.path.join(m.path, f"_tmp_{name}") for name in ("dead", "live")
    )
    for path in (stray, fresh):
        with real_open(path, "w") as f:
            f.write("{}")
    os.utime(stray, (0, 0))
    os.utime(fresh, (4e9, 4e9))
    # the next run commits, whatever the crash left behind
    v = Manifest(m.path).commit_validated(r2, "r2", "t1")
    assert v == (3 if committed else 2)
    assert Manifest(m.path).current_version() == v
    assert Manifest(m.path).load() == clean.load()
    left = [f for f in os.listdir(m.path) if f.startswith("_tmp")]
    assert left == ["_tmp_live"], left


def test_torn_current_hint_reads_as_zero_and_rolls_forward(tmp_path):
    """CURRENT is only a hint: empty, unparsable or missing, the reader
    rolls forward from version 0 to the last committed version."""
    m = Manifest(str(tmp_path / "manifest"))
    for pid in range(3):
        m.commit_validated(
            [{"partition_id": pid, "snapshot_hash": f"h{pid}"}], "r", "t"
        )
    current = os.path.join(m.path, "CURRENT")
    for torn in ("", "v", "garbage"):
        with open(current, "w") as f:
            f.write(torn)
        assert m.current_version() == 3
    os.unlink(current)
    assert m.current_version() == 3
    assert sorted(m.load()) == ["0", "1", "2"]


def test_swept_temp_fails_its_writer_as_a_lost_race(tmp_path, monkeypatch):
    """A writer whose temp file a newer commit swept before its link
    gets the concurrent-commit error, like any writer that lost the
    race, and leaves nothing behind."""
    m = Manifest(str(tmp_path / "manifest"))
    m.commit_validated([{"partition_id": 0, "snapshot_hash": "h0"}], "r", "t")
    link = os.link

    def swept_before_link(src, dst):
        os.unlink(src)
        link(src, dst)

    monkeypatch.setattr(os, "link", swept_before_link)
    with pytest.raises(RuntimeError, match="concurrent manifest commit"):
        m.commit_validated([{"partition_id": 1, "snapshot_hash": "h1"}],
                           "r", "t")
    monkeypatch.undo()
    assert m.current_version() == 1
    assert not [f for f in os.listdir(m.path) if f.startswith("_tmp")]


def test_hash_scheme_upgrade_revalidates_explicitly(spark, docs, tmp_path):
    """A manifest written under an older snapshot-hash scheme makes every
    partition pending (hashes incomparable) with an explicit warning,
    instead of silently mass-mismatching; re-commit under the current
    scheme restores normal delta behavior."""
    import json
    import warnings

    from anomalydetection_spark.sources.manifest import partition_snapshots

    m = Manifest(str(tmp_path / "manifest"))
    snaps = partition_snapshots(docs)
    records = [
        {
            "partition_id": r.partition_id,
            "snapshot_hash": r.snapshot_hash,
            "n_rows": r.n_rows,
            "verdict": "pass",
        }
        for r in snaps.collect()
    ]
    m.commit_validated(records, "r1", "t0")
    assert m.pending_partitions(snaps) == []

    # rewrite the manifest as if produced by hash scheme v1
    v = m.current_version()
    fpath = os.path.join(m.path, f"v{v}.json")
    with open(fpath) as f:
        doc = json.load(f)
    doc["hash_version"] = 1
    with open(fpath, "w") as f:
        json.dump(doc, f)
    assert m.stored_hash_version() == 1

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        pending = m.pending_partitions(snaps)
    assert pending == sorted(r["partition_id"] for r in records)
    assert any("snapshot-hash version" in str(w.message) for w in caught)

    m.commit_validated(records, "r2", "t1")
    assert m.stored_hash_version() != 1
    assert m.pending_partitions(snaps) == []


def test_stamp_stats_preserves_stored_hash_version(spark, docs, tmp_path):
    """stamp_stats carries partition state forward unchanged — it must
    also carry the hash scheme those hashes were written under, or a
    stats stamp on a v1 manifest would silently relabel old-scheme
    hashes as current and defeat the upgrade-revalidation warning."""
    import json

    from anomalydetection_spark.sources.manifest import (
        SNAPSHOT_HASH_VERSION,
        partition_snapshots,
    )

    m = Manifest(str(tmp_path / "manifest"))
    snaps = partition_snapshots(docs)
    records = [
        {
            "partition_id": r.partition_id,
            "snapshot_hash": r.snapshot_hash,
            "n_rows": r.n_rows,
            "verdict": "pass",
        }
        for r in snaps.collect()
    ]
    m.commit_validated(records, "r1", "t0")
    fpath = os.path.join(m.path, f"v{m.current_version()}.json")
    with open(fpath) as f:
        doc = json.load(f)
    doc["hash_version"] = 1
    with open(fpath, "w") as f:
        json.dump(doc, f)

    m.stamp_stats("dedup", {"n_clusters": 3}, "r2")
    assert m.get_stats("dedup") == {"n_clusters": 3}
    assert m.stored_hash_version() == 1  # NOT relabeled

    # a real validation commit re-hashes and upgrades the scheme
    m.commit_validated(records, "r3", "t1")
    assert m.stored_hash_version() == SNAPSHOT_HASH_VERSION


def test_verdict_regressions_between_versions(spark, tmp_path):
    """v1: p0 pass, p1 fail, p2 pass. v2: p0 fail (regression),
    p1 pass (recovery), p2 unchanged, p3 appears. The diff reports
    exactly the changed partitions with violation deltas."""
    from anomalydetection_spark.operators.drift import verdict_regressions
    from anomalydetection_spark.sources.manifest import Manifest

    m = Manifest(str(tmp_path / "m"))
    def rec(pid, verdict, nv):
        return {
            "partition_id": pid, "snapshot_hash": f"h{pid}",
            "n_rows": 100, "n_violations": nv, "verdict": verdict,
            "metrics": {},
        }
    m.commit_validated(
        [rec(0, "pass", 0), rec(1, "fail", 9), rec(2, "pass", 0)],
        "r1", "t0",
    )
    m.commit_validated(
        [rec(0, "fail", 4), rec(1, "pass", 0), rec(2, "pass", 0),
         rec(3, "fail", 7)],
        "r2", "t1",
    )
    rows = {r.partition_id: r for r in
            verdict_regressions(spark, m).collect()}
    assert set(rows) == {0, 1, 3}  # p2 unchanged → absent
    assert rows[0].change == "regression" and rows[0].delta_violations == 4
    assert rows[1].change == "recovery" and rows[1].delta_violations == -9
    assert rows[3].change == "new_partition" and rows[3].new_violations == 7

    import pytest
    with pytest.raises(ValueError, match="need 1 <= v_old"):
        verdict_regressions(spark, m, v_old=2, v_new=2)

    # an intervening stats commit carries every verdict forward — the
    # default diff must still compare the two FRESH validation
    # versions, not the carry-forward copy against its source (which
    # would report an empty regression set)
    m.stamp_stats("dedup", {"n": 1}, "r3")
    rows2 = {r.partition_id: r for r in
             verdict_regressions(spark, m).collect()}
    assert set(rows2) == {0, 1, 3}
