"""Checkpoint manifest: Iceberg-style snapshot/lineage semantics over
plain files (no Iceberg jar in this environment; the interface is kept
thin so a real catalog is a config swap).

Re-expresses the reference's SQLite ``logs`` tracking table
(/root/reference/database_manager.py:21-32) and its semantics:
- snapshot hash = change detection (hash_file_attributes,
  log_retriever.py:167-172) → here a content hash per partition
  (order-independent bit_xor of row hashes).
- should-process predicate (database_manager.py:84-103): process a
  partition iff its hash changed or it was never validated. There is no
  lease: the reference's in_process flag (database_manager.py:66-76)
  is not taken, and an old manifest's ``in_process`` record is pending.
- atomic commit: each write reads the state of version N, merges into
  it, writes and fsyncs a private temp file and hard-links it to
  v{N+1}.json. The link is the commit point and the compare-and-swap:
  it is atomic, fails if the name exists, and never exposes a partial
  file. CURRENT is then moved by os.rename, but it is only a hint:
  readers roll forward from it while v{hint+1}.json exists, so a crash
  anywhere in the commit leaves either version N or version N+1
  current, never a manifest that refuses every later commit. Two
  overlapping runs each merge into the latest committed state, so
  neither drops the other's records; a writer whose base went stale in
  between fails loudly instead of clobbering. The violations a run
  stages under ``_staged_<run_id>`` are not referenced by the commit.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import local_frame

# Version of the snapshot-hash derivation below. Bump whenever the hash
# scheme changes (v1 = md5(to_json), v2 = bit_xor(xxhash64)): a manifest
# written under another version cannot compare hashes, so every
# partition is explicitly (and loudly) re-pending rather than silently
# mass-mismatching.
SNAPSHOT_HASH_VERSION = 2


def partition_snapshots(docs: DataFrame) -> DataFrame:
    """(partition_id, snapshot_hash, n_rows) — one aggregation pass.

    Content hash is bit_xor of per-row xxhash64 over (doc_id, spans):
    order-independent, merge-associative (partial-agg friendly), and
    sensitive to any field change. xxhash64 hashes structs/arrays
    natively — no JSON serialization (which benchmarked ~5× slower and
    generates GC-hostile string garbage at scale)."""
    return docs.groupBy("partition_id").agg(
        F.expr("bit_xor(xxhash64(doc_id, spans))").alias("_h"),
        F.count("*").alias("n_rows"),
    ).select(
        "partition_id",
        F.conv(F.col("_h").cast("string"), 10, 16).alias("snapshot_hash"),
        "n_rows",
    )


class Manifest:
    """Versioned manifest directory:

    ``<dir>/v{N}.json``   — full manifest state at version N
    ``<dir>/CURRENT``     — hint file containing "v{N}.json"; the
                            current version is the last of the unbroken
                            v{hint+1}, v{hint+2}, ... chain after it

    State: {partition_id(str) -> record dict (MANIFEST_SCHEMA fields)}.
    """

    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)

    # ---- reads ----

    def current_version(self) -> int:
        cur = os.path.join(self.path, "CURRENT")
        v = 0
        if os.path.exists(cur):
            with open(cur) as f:
                v = int(f.read().strip()[1:].split(".")[0])
        # a commit that crashed (or raced) after its link but before its
        # CURRENT rename is committed all the same: roll forward
        while os.path.exists(os.path.join(self.path, f"v{v + 1}.json")):
            v += 1
        return v

    def load(self, version: int | None = None) -> dict[str, dict]:
        v = self.current_version() if version is None else version
        if v == 0:
            return {}
        with open(os.path.join(self.path, f"v{v}.json")) as f:
            return json.load(f)["partitions"]

    def stored_hash_version(self) -> int:
        """Hash-scheme version the current manifest was written under
        (pre-versioning manifests report 1)."""
        v = self.current_version()
        if v == 0:
            return SNAPSHOT_HASH_VERSION
        with open(os.path.join(self.path, f"v{v}.json")) as f:
            return json.load(f).get("hash_version", 1)

    # ---- writes ----

    def _commit_state(
        self, state: dict[str, dict], run_id: str, base: int,
        extras: dict | None = None,
        hash_version: int | None = None,
    ) -> int:
        """Write ``state``, read from version ``base``, as ``base + 1``."""
        v = base + 1
        fname = f"v{v}.json"
        payload = {
            "version": v,
            "run_id": run_id,
            "hash_version": (
                SNAPSHOT_HASH_VERSION
                if hash_version is None
                else hash_version
            ),
            "partitions": state,
        }
        if extras:
            payload.update(extras)
        tmp = os.path.join(self.path, f"_tmp_{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(payload, f)
            f.flush()
            os.fsync(f.fileno())
        # the hard link IS the commit and the compare-and-swap: two
        # writers that both read version N race to link v{N+1}.json and
        # exactly one wins — the loser gets FileExistsError instead of
        # silently clobbering the winner's committed state — and the
        # name only ever appears with its complete, fsynced payload
        try:
            os.link(tmp, os.path.join(self.path, fname))
        except FileExistsError:
            raise RuntimeError(
                f"concurrent manifest commit detected: {fname} already "
                f"exists under {self.path} — another run committed from "
                "the same base version (re-run against the new version)"
            ) from None
        finally:
            os.unlink(tmp)
        tmp_cur = os.path.join(self.path, f"_tmpcur_{uuid.uuid4().hex}")
        with open(tmp_cur, "w") as f:
            f.write(fname)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp_cur, os.path.join(self.path, "CURRENT"))
        return v

    def stamp_stats(self, key: str, stats: dict, run_id: str) -> int:
        """Commit a new manifest version whose partition state is
        unchanged but which carries ``{key: stats}`` at the top level —
        e.g. the dedup pipeline's cluster stats. Readable back via
        ``get_stats``."""
        # carried-forward state keeps the version its hashes were written
        # under — stamping stats must not relabel old-scheme hashes as
        # current-scheme and defeat the upgrade-revalidation path
        base = self.current_version()
        return self._commit_state(
            self.load(base), run_id, base, extras={key: stats},
            hash_version=self.stored_hash_version(),
        )

    def get_stats(self, key: str) -> dict | None:
        """Latest top-level stats stamped under ``key`` (walks versions
        newest-first so an intervening validation commit doesn't hide
        an older stamp)."""
        for v in range(self.current_version(), 0, -1):
            p = os.path.join(self.path, f"v{v}.json")
            if not os.path.exists(p):
                continue
            with open(p) as f:
                doc = json.load(f)
            if key in doc:
                return doc[key]
        return None

    def commit_validated(
        self, records: list[dict], run_id: str, now: str
    ) -> int:
        """Publish per-partition results (lineage + metrics) atomically,
        merged into the latest committed state."""
        base = self.current_version()
        state = self.load(base)
        for rec in records:
            pid = str(rec["partition_id"])
            state[pid] = {
                "partition_id": rec["partition_id"],
                "snapshot_hash": rec["snapshot_hash"],
                "status": "validated",
                "run_id": run_id,
                "validated_at": now,
                "n_rows": rec.get("n_rows"),
                "n_violations": rec.get("n_violations"),
                "verdict": rec.get("verdict"),
                "metrics_json": json.dumps(rec.get("metrics", {})),
            }
        return self._commit_state(state, run_id, base)

    def update_metrics(
        self, records: list[dict], run_id: str, now: str
    ) -> int:
        """Merge new n_violations/verdict/metrics into already-validated
        partitions WITHOUT touching snapshot_hash or status — used by
        the feedback path, where human overrides change the verdict but
        the data (and so the should-process predicate) is unchanged."""
        base = self.current_version()
        state = self.load(base)
        for rec in records:
            pid = str(rec["partition_id"])
            cur = state.get(pid)
            if cur is None:
                continue
            cur["n_violations"] = rec.get("n_violations", cur.get("n_violations"))
            cur["verdict"] = rec.get("verdict", cur.get("verdict"))
            cur["validated_at"] = now
            # the run that last DETERMINED this verdict — keeps
            # feedback versions visible as fresh-verdict versions to
            # history consumers (verdict_regressions defaults)
            cur["run_id"] = run_id
            if rec.get("metrics") is not None:
                import json as _json

                merged = _json.loads(cur.get("metrics_json") or "{}")
                merged.update(rec["metrics"])
                cur["metrics_json"] = _json.dumps(merged)
            state[pid] = cur
        return self._commit_state(state, run_id, base)

    # ---- the should-process predicate (S5) ----

    def pending_partitions(self, snapshots: DataFrame | list) -> list[int]:
        """Partitions whose content hash is new/changed or that were
        never validated (the reference's should-process predicate,
        database_manager.py:84-103). A record in any other status, e.g.
        an ``in_process`` lease written by an older engine, is pending.
        ``snapshots`` is a ``partition_snapshots`` frame or its
        already-collected rows."""
        if isinstance(snapshots, DataFrame):
            snapshots = snapshots.select(
                "partition_id", "snapshot_hash"
            ).collect()
        state = self.load()
        if state and self.stored_hash_version() != SNAPSHOT_HASH_VERSION:
            # hash-scheme upgrade: stored hashes are incomparable — make
            # the one-time full revalidation explicit and loggable
            # instead of a silent all-partitions "mismatch"
            import warnings

            warnings.warn(
                "manifest snapshot-hash version "
                f"{self.stored_hash_version()} != engine version "
                f"{SNAPSHOT_HASH_VERSION}; revalidating all partitions",
                stacklevel=2,
            )
            return sorted(r.partition_id for r in snapshots)
        pending = []
        for row in snapshots:
            rec = state.get(str(row.partition_id))
            if (
                rec is None
                or rec.get("status") != "validated"
                or rec.get("snapshot_hash") != row.snapshot_hash
            ):
                pending.append(row.partition_id)
        return sorted(pending)

    def history_df(self, spark: SparkSession) -> DataFrame:
        """Every committed version's per-partition record as one
        DataFrame (version, run_id, partition_id, n_rows, n_violations,
        verdict, validated_at, status, record_run_id) — the
        metric-history input for temporal drift
        (operators/drift.py::manifest_history_drift). ``run_id`` is the
        VERSION's committing run; ``record_run_id`` is the run that
        last touched the record — rows where the two are equal and
        status is 'validated' are FRESH observations, everything else
        is carry-forward (versions are full snapshots, so every stats
        commit copies the previous records verbatim). Row count =
        versions x partitions — metadata scale (the validation-run
        cadence, not the data volume)."""
        import json as _json

        rows = []
        for v in range(1, self.current_version() + 1):
            with open(os.path.join(self.path, f"v{v}.json")) as f:
                snap = _json.load(f)
            for rec in snap["partitions"].values():
                rows.append(
                    (
                        v,
                        snap.get("run_id"),
                        rec.get("partition_id"),
                        rec.get("n_rows"),
                        rec.get("n_violations"),
                        rec.get("verdict"),
                        rec.get("validated_at"),
                        rec.get("status"),
                        rec.get("run_id"),
                    )
                )
        return local_frame(
            spark,
            rows,
            "version int, run_id string, partition_id int,"
            " n_rows long, n_violations long, verdict string,"
            " validated_at string, status string,"
            " record_run_id string",
        )
