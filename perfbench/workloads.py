"""Seeded inputs, the timed operation and the output oracle of each workload.

Inputs come from ``anomalydetection_spark.fixtures`` and are written once
per (input set, seed) under the work directory, with a sha256 of
every file; a later run with the same seed re-hashes the files and reuses
them only if every hash matches. The engine only ever sees the parquet
files.

Document tables are collected to the driver once and written with
pyarrow in generation order, so row ``i`` of the table is fixture id
``i``. That lets the oracle map every fixture id to its partition, file
and micro-batch exactly.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# ---- sizes (see perfbench/README.md for why they are this small) ----
N_PARTITIONS = 64          # logical partitions; partition 0 is the hot one
CORPUS_DOCS = 20_000
CORPUS_FILES = 8           # 2 scan tasks per core; one stream trigger
CATALOG_IDS = 50_000       # -> 45,454 catalog refs after the 1-in-11 gaps
N_CHANGED = 6              # partitions regenerated for incremental_resume
FILES_PER_TRIGGER = 8      # stream_validate's maxFilesPerTrigger
STREAM_CATALOG_IDS = 2_420_000  # -> 2.2M rows, above the 2M broadcast cap

ORACLE_CHECKS = ("uniqueness", "empty_spans", "null_spans", "nonmono", "incoherent")
# conformance detail token -> expected_violation_doc_ids key
_DETAIL_KEYS = {
    "empty_spans": "empty_spans",
    "null_spans": "null_spans",
    "offset_monotonicity": "nonmono",
    "span_coherence": "incoherent",
}


class OpFailed(Exception):
    """An operation's output disagreed with the oracle or the golden set."""


class MissingInputs(Exception):
    """Inputs are absent or their content hashes do not match."""


# ---------------------------------------------------------------- inputs


def _file_hashes(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            rel = os.path.relpath(p, root)
            if rel == "HASHES.json":
                continue
            with open(p, "rb") as fh:
                out[rel] = hashlib.sha256(fh.read()).hexdigest()
    return dict(sorted(out.items()))


def _cached(root: str, spark, build) -> str:
    """Return ``root`` if its recorded content hashes all match; else
    rebuild it with ``build(root)``, or raise MissingInputs when there is
    no session to build with."""
    marker = os.path.join(root, "HASHES.json")
    if os.path.exists(marker):
        with open(marker) as f:
            if json.load(f) == _file_hashes(root):
                return root
    if spark is None:
        raise MissingInputs(root)
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    build(root)
    with open(marker, "w") as f:
        json.dump(_file_hashes(root), f)
    return root


def _doc_table(spark, n: int, seed: int, n_media: int) -> pa.Table:
    from anomalydetection_spark.fixtures import generate_documents

    tbl = generate_documents(
        spark, n, seed=seed, n_partitions=N_PARTITIONS, n_media=n_media
    ).toArrow()
    # row order must be fixture-id order (the oracle relies on it)
    if not np.array_equal(tbl.column("doc_id").to_numpy(zero_copy_only=False), _names(n)):
        raise RuntimeError("generated documents are not in fixture-id order")
    return tbl


def _write_files(tbl: pa.Table, out_dir: str, n_files: int) -> None:
    os.makedirs(out_dir)
    for k, (lo, hi) in enumerate(_bounds(tbl.num_rows, n_files)):
        pq.write_table(tbl.slice(lo, hi - lo), os.path.join(out_dir, f"part-{k:05d}.parquet"))


def _bounds(n: int, k: int) -> list[tuple[int, int]]:
    return [(i * n // k, (i + 1) * n // k) for i in range(k)]


def catalog_inputs(spark, work: str, n_ids: int) -> str:
    """The media catalog. Its keys never depend on the fixture seed (only
    its kind/size columns would), so one seed-0 catalog per size is
    generated per checkout and shared by every run."""
    from anomalydetection_spark.fixtures import generate_media_catalog

    def build(root):
        generate_media_catalog(spark, n_ids, seed=0).coalesce(4).write.parquet(
            os.path.join(root, "catalog")
        )

    return os.path.join(_cached(os.path.join(work, "inputs", f"catalog-{n_ids}"), spark, build), "catalog")


def changed_partitions(seed: int) -> list[int]:
    """The partitions regenerated for incremental_resume: 6 normal ones
    (never the hot partition 0), so the resume scope is ~8% of rows."""
    return sorted(random.Random(seed).sample(range(1, N_PARTITIONS), N_CHANGED))


def corpus_inputs(spark, work: str, seed: int) -> str:
    """The documents table both workloads read (``docs``)."""

    def build(root):
        _write_files(_doc_table(spark, CORPUS_DOCS, seed, CATALOG_IDS),
                     os.path.join(root, "docs"), CORPUS_FILES)

    root = _cached(os.path.join(work, "inputs", f"corpus-s{seed}"), spark, build)
    # the stream file source admits files oldest-first: distinct,
    # increasing mtimes fix which fixture ids each trigger holds
    docs = os.path.join(root, "docs")
    for k, f in enumerate(sorted(os.listdir(docs))):
        os.utime(os.path.join(docs, f), (1_000_000_000 + k, 1_000_000_000 + k))
    return root


def resume_inputs(spark, work: str, seed: int, corpus: str) -> str:
    """The corpus's stored drift baseline and its second snapshot
    (``snapshot``): there the rows of ``changed_partitions`` carry
    content regenerated under seed+1 (same doc ids, same partitions);
    every other row is byte-identical to the corpus."""

    def build(root):
        from anomalydetection_spark.config import DEFAULT_CONFIG
        from anomalydetection_spark.operators.stats import length_histogram

        d = DEFAULT_CONFIG.drift
        length_histogram(
            spark.read.parquet(os.path.join(corpus, "docs")),
            bins=d.histogram_bins, bin_width=d.histogram_bin_width,
        ).coalesce(1).write.parquet(os.path.join(root, "baseline"))
        t0 = pq.read_table(os.path.join(corpus, "docs"))
        t1 = _doc_table(spark, CORPUS_DOCS, seed + 1, CATALOG_IDS)
        t1 = t1.set_column(2, "partition_id", t0.column("partition_id"))
        changed = np.isin(t0.column("partition_id").to_numpy(), changed_partitions(seed))
        take = np.where(changed, np.arange(CORPUS_DOCS) + CORPUS_DOCS, np.arange(CORPUS_DOCS))
        snap = pa.concat_tables([t0, t1]).take(pa.array(take))
        _write_files(snap, os.path.join(root, "snapshot"), CORPUS_FILES)

    return _cached(os.path.join(work, "inputs", f"resume-s{seed}"), spark, build)


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


# ---------------------------------------------------------------- oracle


VIOLATION_COLS = ["check", "doc_id", "detail"]
VERDICT_COLS = ("check", "partition_id", "n_rows", "n_violations", "violation_rate",
                "score", "verdict")


def violation_doc_ids(tbl: pa.Table) -> dict[str, set[str]]:
    """Per oracle check, the doc_id set of the engine's violation rows."""
    cols = tbl.to_pydict()
    out: dict[str, set[str]] = {c: set() for c in ORACLE_CHECKS}
    for check, doc_id, detail in zip(cols["check"], cols["doc_id"], cols["detail"]):
        if check == "uniqueness":
            out["uniqueness"].add(doc_id)
        elif check == "conformance":
            for tok in detail.split(","):
                if tok in _DETAIL_KEYS:
                    out[_DETAIL_KEYS[tok]].add(doc_id)
    return out


def compare(got: dict[str, set], want: dict[str, set], ignore: set = frozenset()) -> None:
    """Raise unless every check's doc_id set matches; ``ignore`` names are
    left out of the conformance checks (not uniqueness)."""
    for c in ORACLE_CHECKS:
        skip = frozenset() if c == "uniqueness" else ignore
        g, w = got[c] - skip, want[c] - skip
        if g != w:
            raise OpFailed(
                f"{c}: {len(g - w)} unexpected, {len(w - g)} missing doc ids"
            )


def _names(n: int) -> np.ndarray:
    """The doc_id of each fixture id: a planted duplicate ``i`` is named
    after ``i - 1``."""
    from anomalydetection_spark.fixtures import DUP_MOD

    ids = np.arange(n)
    return np.char.add("doc", np.where((ids % DUP_MOD == 0) & (ids > 0), ids - 1, ids).astype("U12"))


def expected_resume(seed: int, in_changed: np.ndarray) -> tuple[dict[str, set], set[str]]:
    """Expected doc ids inside the changed partitions, and the names to
    leave out of the conformance comparison.

    A planted duplicate pair shares one name; when one row of the pair is
    in a changed partition and the other is not, the closed form cannot
    say which row a conformance flag belongs to, so that name is skipped
    (a handful of names per run). Uniqueness is exact: both rows stay in
    the table, so the in-scope row is always reported."""
    from anomalydetection_spark.fixtures import expected_violation_doc_ids

    g = pd.DataFrame({"name": _names(CORPUS_DOCS), "in_c": in_changed}).groupby("name")["in_c"]
    any_c, all_c = g.any(), g.all()
    inside = set(all_c.index[all_c.to_numpy()])
    straddle = set(any_c.index[any_c.to_numpy()]) - inside
    old = expected_violation_doc_ids(CORPUS_DOCS, seed)
    new = expected_violation_doc_ids(CORPUS_DOCS, seed + 1)
    want = {c: new[c] & inside for c in ORACLE_CHECKS}
    want["uniqueness"] = old["uniqueness"] & (inside | straddle)
    return want, straddle


def expected_stream(seed: int) -> dict[str, set]:
    """Micro-batches only see within-batch duplicates: a planted pair
    split across two triggers is not a violation."""
    from anomalydetection_spark.fixtures import DUP_MOD, expected_violation_doc_ids

    want = expected_violation_doc_ids(CORPUS_DOCS, seed)
    batch = np.zeros(CORPUS_DOCS, dtype=np.int64)
    for k, (lo, hi) in enumerate(_bounds(CORPUS_DOCS, CORPUS_FILES)):
        batch[lo:hi] = k // FILES_PER_TRIGGER
    ids = np.arange(1, CORPUS_DOCS)
    split = ids[(ids % DUP_MOD == 0) & (batch[ids] != batch[ids - 1])]
    want["uniqueness"] = want["uniqueness"] - {f"doc{i - 1}" for i in split}
    return want


def verdict_set(rows) -> frozenset:
    """Verdict rows as a comparable set; doubles rounded to 9 places
    because Spark sums may add in any order."""

    def norm(v):
        return round(v, 9) if isinstance(v, float) else v

    return frozenset(tuple(norm(v) for v in r) for r in rows)


# ---------------------------------------------------------------- workloads


class Workload:
    """One closed-loop client: ``op`` runs a single timed operation and
    returns its record; ``check`` compares its outputs with the oracle.

    ``prepare`` checks the inputs and builds the oracle; given a session
    it first generates whatever inputs are missing. ``load`` opens the
    inputs (part of set-up); ``warm_up`` is the set-up's one operation
    and records the golden verdict set."""

    name = ""

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.golden = None
        self.n_ops = 0

    def _out(self, kind: str) -> str:
        path = os.path.join(self.work, "run", f"{kind}{self.n_ops}")
        shutil.rmtree(path, ignore_errors=True)
        return path

    def warm_up(self, spark) -> dict:
        rec = self.op(spark)
        self.golden = self.check(spark, rec, golden=False)
        return rec

    def check(self, spark, rec: dict, golden: bool = True):
        try:
            verdicts = self._check(spark, rec)
            if golden and verdicts != self.golden:
                raise OpFailed(
                    f"verdicts: {len(verdicts ^ self.golden)} rows differ from the golden set"
                )
            return verdicts
        finally:
            for p in rec.get("cleanup", ()):
                shutil.rmtree(p, ignore_errors=True)


class IncrementalResume(Workload):
    name = "incremental_resume"

    def prepare(self, spark=None):
        self.root = corpus = corpus_inputs(spark, self.work, self.seed)
        self.resume = resume_inputs(spark, self.work, self.seed, corpus)
        self.catalog_dir = catalog_inputs(spark, self.work, CATALOG_IDS)
        self.changed = changed_partitions(self.seed)
        pid = pq.read_table(os.path.join(corpus, "docs"), columns=["partition_id"])
        in_changed = np.isin(pid.column(0).to_numpy(), self.changed)
        self.changed_docs = int(in_changed.sum())
        self.want, self.ignore = expected_resume(self.seed, in_changed)

    def load(self, spark):
        r = lambda *p: spark.read.parquet(os.path.join(*p))  # noqa: E731
        self.corpus_docs = r(self.root, "docs")
        self.docs = r(self.resume, "snapshot")
        self.catalog = r(self.catalog_dir)
        self.baseline = r(self.resume, "baseline")
        self.table_dir = os.path.join(self.resume, "snapshot")
        self.table_bytes = dir_bytes(self.table_dir)

    def cold_pass(self, spark) -> float:
        """Set-up: a cold manifest pass over the first snapshot; every
        operation restores the manifest it committed. Returns its time."""
        from anomalydetection_spark.plans.pipeline import run_validation

        self.cold = os.path.join(self.work, "run", "manifest_cold")
        shutil.rmtree(self.cold, ignore_errors=True)
        t0 = time.perf_counter()
        res = run_validation(
            spark, self.corpus_docs, catalog=self.catalog, baseline_hist=self.baseline,
            manifest_dir=self.cold, run_id="cold",
        )
        dt = time.perf_counter() - t0
        if len(res.validated_partitions) != N_PARTITIONS:
            raise OpFailed(f"cold pass validated {len(res.validated_partitions)} partitions")
        return dt

    def warm_up(self, spark) -> dict:
        self.cold_pass_s = self.cold_pass(spark)
        return super().warm_up(spark)

    def op(self, spark) -> dict:
        from anomalydetection_spark.plans.pipeline import run_validation

        self.n_ops += 1
        man = os.path.join(self.work, "run", "manifest")
        shutil.rmtree(man, ignore_errors=True)
        shutil.copytree(self.cold, man)
        before = dir_bytes(man)
        viol = self._out("violations")
        timings: dict = {}
        t0 = time.perf_counter()
        res = run_validation(
            spark, self.docs, catalog=self.catalog, baseline_hist=self.baseline,
            manifest_dir=man, violations_dir=viol,
            run_id=f"op{self.n_ops}", timings=timings,
        )
        dt = time.perf_counter() - t0
        return {"s": dt, "res": res, "timings": timings, "docs": self.changed_docs,
                "out_bytes": dir_bytes(viol) + dir_bytes(man) - before, "viol": viol,
                "cleanup": [viol]}

    def _check(self, spark, rec):
        res = rec["res"]
        if res.validated_partitions != self.changed:
            raise OpFailed(f"validated {res.validated_partitions}, changed {self.changed}")
        (staged,) = os.listdir(rec["viol"])  # the run's staged violations
        table = pq.read_table(os.path.join(rec["viol"], staged), columns=VIOLATION_COLS)
        compare(violation_doc_ids(table), self.want, self.ignore)
        self.verdict_rows = res.verdicts.collect()
        return verdict_set(self.verdict_rows)


class StreamMicrobatch(Workload):
    name = "stream_microbatch"

    def prepare(self, spark=None):
        self.root = corpus_inputs(spark, self.work, self.seed)
        self.catalog_dir = catalog_inputs(spark, self.work, STREAM_CATALOG_IDS)
        self.want = expected_stream(self.seed)

    def load(self, spark):
        r = lambda *p: spark.read.parquet(os.path.join(*p))  # noqa: E731
        self.docs = r(self.root, "docs")
        self.catalog = r(self.catalog_dir)
        self.baseline = None  # the stream path takes no drift baseline
        self.table_dir = os.path.join(self.root, "docs")
        self.table_bytes = dir_bytes(self.table_dir)

    def op(self, spark) -> dict:
        from anomalydetection_spark.streaming.incremental import stream_validate

        self.n_ops += 1
        out, ckpt = self._out("stream_out"), self._out("stream_ckpt")
        t0 = time.perf_counter()
        q = stream_validate(
            spark, self.table_dir, out, ckpt, catalog=self.catalog,
            available_now=True, emit_violations=True,
        )
        q.awaitTermination()
        dt = time.perf_counter() - t0
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        return {"s": dt, "progress": progress, "docs": CORPUS_DOCS,
                "out_bytes": dir_bytes(out), "out": out, "cleanup": [out, ckpt]}

    def _check(self, spark, rec):
        want_batches = CORPUS_FILES // FILES_PER_TRIGGER
        if len(rec["progress"]) != want_batches:
            raise OpFailed(f"{len(rec['progress'])} micro-batches, expected {want_batches}")
        out = rec["out"]
        compare(violation_doc_ids(pq.read_table(os.path.join(out, "violations"),
                                                columns=VIOLATION_COLS)), self.want)
        rows = pq.read_table(os.path.join(out, "verdicts")).to_pylist()
        self.verdict_rows = [tuple(r[c] for c in VERDICT_COLS) for r in rows]
        return verdict_set(tuple(r.values()) for r in rows)


WORKLOADS = {w.name: w for w in (IncrementalResume, StreamMicrobatch)}
