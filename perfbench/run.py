"""Benchmark of the validation engine on ``local[4]``.

    python3 perfbench/run.py --workload full_pass --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. Each workload is one closed-loop client
(see workloads.py). ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` repeats the untraced run, then runs again with the Spark
event log on, times each layer call in isolation under its own job group
and prints the per-layer metrics. The last stdout line is the JSON result.
Everything the run writes goes under ``.bench_work/`` in the current
directory. See perfbench/README.md for the workloads and the metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

CORES = 4
# 4 cores, 15 GB shared by every process on the host: a 3 GB driver heap
# keeps the whole run (JVM + Python workers) far below it, and 2 shuffle
# partitions per core keep every task busy without tiny-task overhead.
# The heap is fixed and its young generation too (1 GB, reached during
# set-up): with an adaptive young generation the JVM's peak RSS landed
# ~1.8 GB or ~2.5 GB from run to run on the same input.
DRIVER_MEMORY = "3g"
JVM_OPTIONS = f"-Xms{DRIVER_MEMORY} -Xmn1g"
SHUFFLE_PARTITIONS = 2 * CORES
# the JVM is still warming up over the first operations after set-up;
# always measuring the same two keeps runs comparable
MIN_OPS = 2

VERDICT_DDL = (
    "check string, partition_id int, n_rows long, n_violations long,"
    " violation_rate double, score double, verdict string"
)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def start_session(work: str, event_log: str | None = None):
    from anomalydetection_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions":
            f"{JVM_OPTIONS} -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "false",
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(
        app_name="perfbench", master=f"local[{CORES}]",
        shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf,
    )


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class Bench:
    def __init__(self, workload, work: str):
        self.wl, self.work = workload, work
        self.spark = None
        self.attempted = self.failed = 0

    # ---- set-up ----

    def setup(self, event_log: str | None = None) -> dict:
        """Session start + input load + one warm-up operation, timed."""
        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = start_session(self.work, event_log)
        start_s = time.perf_counter() - t0
        t1 = time.perf_counter()
        self.wl.load(self.spark)
        load_s = time.perf_counter() - t1
        self.wl.warm_up(self.spark)
        setup = {"start_s": start_s, "load_s": load_s,
                 "setup_s": start_s + time.perf_counter() - t1}
        log(f"set-up {setup}")
        return setup

    # ---- the closed loop ----

    def measure(self, seconds: float, tracer=None) -> list[dict]:
        """Operations back to back for at least ``seconds`` and at least
        MIN_OPS operations."""
        recs = []
        deadline = time.perf_counter() + seconds
        while True:
            self.attempted += 1
            try:
                if tracer is None:
                    rec = self.wl.op(self.spark)
                else:
                    with tracer.span("op", parent="workload") as span:
                        rec = self.wl.op(self.spark)
                    rec["span"] = span
                recs.append(rec)
                self.wl.check(self.spark, rec)
            except Exception:  # a failed operation is counted, not fatal
                self.failed += 1
                log(f"operation failed:\n{traceback.format_exc()}")
            else:
                log(f"operation {self.attempted}: {rec['s']:.3f}s")
            if time.perf_counter() >= deadline and len(recs) >= MIN_OPS:
                break
        if not recs:
            raise SystemExit("no operation completed")
        return recs

    def peak_rss_mb(self) -> float:
        jvm = self.spark.sparkContext._gateway.proc.pid
        return (vm_hwm_kb("self") + vm_hwm_kb(jvm)) / 1024

    def shutdown(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            gw.proc.stdin.close()
            gw.proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None
        self.spark = None


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(bench: Bench, setup: dict, recs: list[dict]) -> dict:
    secs = [r["s"] for r in recs]
    docs = sum(r["docs"] for r in recs)
    batches = [p["durationMs"]["triggerExecution"] / 1000 for r in recs for p in r.get("progress", ())]
    pass_p50 = statistics.median(secs)
    return {
        "setup_s": (setup["setup_s"], "s"),
        "pass_s_p50": (pass_p50, "s"),
        "docs_per_s": (docs / sum(secs), "docs/s"),
        # a batch operation is a single batch, so its micro-batch is the pass
        "microbatch_s_p50": (statistics.median(batches) if batches else pass_p50, "s"),
        "peak_rss_mb": (bench.peak_rss_mb(), "MB"),
        "output_bytes_per_doc": (sum(r["out_bytes"] for r in recs) / docs, "B/doc"),
    }


# ---- traced run: isolated layer calls ----


def layer_calls(bench: Bench, tracer) -> tuple[dict, dict]:
    """Time each layer function alone on the workload's inputs; returns
    ({metric: value}, {metric: span})."""
    from pyspark.sql import functions as F

    from anomalydetection_spark.config import DEFAULT_CONFIG
    from anomalydetection_spark.operators.drift import drift_verdicts
    from anomalydetection_spark.operators.referential import (
        BROADCAST_MAX_CATALOG_ROWS, collect_catalog_keys, orphan_refs,
    )
    from anomalydetection_spark.operators.stats import conformance_violations, length_histogram
    from anomalydetection_spark.operators.uniqueness import duplicate_keys
    from anomalydetection_spark.operators.verdict import global_verdict
    from anomalydetection_spark.sources.manifest import Manifest, partition_snapshots

    spark, wl, cfg = bench.spark, bench.wl, DEFAULT_CONFIG
    d = cfg.drift
    out, spans = {}, {}

    def timed(metric, fn):
        with tracer.span(metric, parent="layers") as s:
            result = fn()
        out[metric] = s["s"]
        spans[metric] = s
        return result

    # manifest: the live manifest on incremental_resume, a fresh one elsewhere
    man_dir = os.path.join(bench.work, "run", "manifest_layer")
    shutil.rmtree(man_dir, ignore_errors=True)
    if getattr(wl, "cold", None):
        shutil.copytree(wl.cold, man_dir)
    man = Manifest(man_dir)
    snaps = timed("manifest.snapshot_scan_s", lambda: partition_snapshots(wl.docs).collect())
    snaps_df = spark.createDataFrame(snaps, "partition_id int, snapshot_hash string, n_rows long")
    pending = timed("manifest.pending_s", lambda: man.pending_partitions(snaps_df))
    by_pid = {r.partition_id: r for r in snaps}
    records = [{"partition_id": p, "snapshot_hash": by_pid[p].snapshot_hash,
                "n_rows": by_pid[p].n_rows, "n_violations": 0, "verdict": "pass"}
               for p in pending]
    timed("manifest.commit_s", lambda: man.commit_validated(records, "layers", "1970-01-01T00:00:00Z"))
    out["manifest.pending_ratio"] = len(pending) / len(snaps)

    timed("uniqueness.dup_keys_s", lambda: duplicate_keys(wl.docs, cfg.unique_key).count())
    n_cat = wl.catalog.count()
    if n_cat <= BROADCAST_MAX_CATALOG_ROWS:
        timed("referential.catalog_keys_s", lambda: collect_catalog_keys(wl.catalog))
    else:  # the engine never collects a catalog this large
        out["referential.catalog_keys_s"] = 0.0
    timed("referential.orphan_join_s", lambda: orphan_refs(
        wl.docs, wl.catalog, spark, salt_buckets=cfg.salt_buckets,
        catalog_size_hint=n_cat, row_fingerprint=True).count())
    hist = timed("stats.length_hist_s", lambda: length_histogram(
        wl.docs, bins=d.histogram_bins, bin_width=d.histogram_bin_width).collect())
    timed("stats.conformance_s", lambda: conformance_violations(wl.docs).count())
    cur = spark.createDataFrame(hist, "kind string, bucket int, count long")
    # the stream path stores no baseline: time the same histogram against itself
    base = cur if wl.baseline is None else spark.createDataFrame(
        wl.baseline.collect(), "kind string, bucket int, count long")
    timed("drift.verdicts_s", lambda: drift_verdicts(
        cur, base, keys=["kind"], psi_threshold=d.psi_threshold_global,
        ks_threshold=d.ks_threshold_global, check_prefix="drift_len",
        chi2_threshold=d.chi2_threshold_global, jsd_threshold=d.jsd_threshold_global,
    ).collect())
    part_verdicts = spark.createDataFrame(wl.verdict_rows, VERDICT_DDL).filter(
        F.col("partition_id").isNotNull())
    timed("verdict.global_s", lambda: global_verdict(part_verdicts).collect())
    shutil.rmtree(man_dir, ignore_errors=True)
    return out, spans


def per_layer(bench: Bench, tracer, event_log: str, untraced: dict, recs: list[dict],
              first_setup: dict) -> dict:
    """The traced operations ``recs`` plus isolated layer calls, with the
    event log's totals attributed to their spans."""
    import tracing

    layer_s, layer_spans = layer_calls(bench, tracer)
    bench.spark.stop()  # flushes and closes the event log
    bench.spark = None
    spans = [r["span"] for r in recs] + list(layer_spans.values())
    tracing.attribute(tracing.event_log_file(event_log), spans, bench.wl.table_dir)

    ops = [r["span"]["spark"] for r in recs]
    wall = sum(r["s"] for r in recs)
    n = len(recs)
    mean = lambda k: sum(o[k] for o in ops) / n  # noqa: E731
    timings = [r.get("timings", {}) for r in recs]
    phase = lambda k: _median([t[k] for t in timings if k in t])  # noqa: E731
    progress = [p for r in recs for p in r.get("progress", ())]
    dur = lambda k: _median([p["durationMs"].get(k, 0) / 1000 for p in progress])  # noqa: E731
    traced_p50 = statistics.median(r["s"] for r in recs)

    m = {
        "pipeline.discovery_s": phase("discovery"),
        "pipeline.small_scans_s": phase("small_scans"),
        "pipeline.violations_s": phase("violations"),
        "pipeline.verdicts_s": phase("verdicts"),
        "pipeline.jobs_per_pass": mean("jobs"),
        "pipeline.tasks_per_pass": mean("tasks"),
        **{k: layer_s[k] for k in (
            "manifest.snapshot_scan_s", "manifest.pending_s", "manifest.commit_s",
            "manifest.pending_ratio")},
        "uniqueness.dup_keys_s": layer_s["uniqueness.dup_keys_s"],
        "uniqueness.shuffle_write_bytes":
            layer_spans["uniqueness.dup_keys_s"]["spark"]["shuffle_write_bytes"],
        "referential.catalog_keys_s": layer_s["referential.catalog_keys_s"],
        "referential.orphan_join_s": layer_s["referential.orphan_join_s"],
        "referential.shuffle_write_bytes":
            layer_spans["referential.orphan_join_s"]["spark"]["shuffle_write_bytes"],
        "stats.length_hist_s": layer_s["stats.length_hist_s"],
        "stats.conformance_s": layer_s["stats.conformance_s"],
        "drift.verdicts_s": layer_s["drift.verdicts_s"],
        "verdict.global_s": layer_s["verdict.global_s"],
        "stream.batches": len(progress) / n,
        "stream.add_batch_s_p50": dur("addBatch"),
        "stream.wal_commit_s_p50": dur("walCommit"),
        "stream.microbatch_samples": len(progress),
        "spark.scans_per_pass": mean("table_input_bytes") / bench.wl.table_bytes,
        "spark.input_bytes": mean("input_bytes"),
        "spark.shuffle_write_bytes": mean("shuffle_write_bytes"),
        "spark.spill_bytes": mean("spill_bytes"),
        "spark.executor_cpu_s": mean("cpu_ns") / 1e9,
        "spark.gc_s": mean("gc_ms") / 1000,
        "spark.busy_ratio": sum(o["run_ms"] for o in ops) / 1000 / (wall * CORES),
        "pipeline.cold_pass_s": getattr(bench.wl, "cold_pass_s", 0.0),
        "session.start_s": first_setup["start_s"],
        "fixtures.load_s": first_setup["load_s"],
        "pass.samples": untraced["samples"],
        "trace.pass_s_p50": traced_p50,
        "trace.overhead_s": traced_p50 - untraced["pass_s_p50"],
        "op_fail_ratio": bench.failed / bench.attempted,
    }
    tracing.write(os.path.join(bench.work, "trace", f"{bench.wl.name}-s{bench.wl.seed}.json"),
                  spans, m)
    return m


PER_LAYER_UNITS = {
    "_s": "s", "_bytes": "B", "_ratio": "ratio", "_per_pass": "count",
    "batches": "count", "samples": "count",
}


def unit_of(name: str) -> str:
    if name.endswith("_s_p50"):
        return "s"
    for suffix, unit in PER_LAYER_UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    import anomalydetection_spark  # noqa: F401  (fails outside a checkout)
    from workloads import WORKLOADS, MissingInputs

    work = os.path.abspath(".bench_work")
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    shutil.rmtree(os.path.join(work, "run"), ignore_errors=True)

    bench = Bench(WORKLOADS[args.workload](work, args.seed), work)
    try:
        bench.wl.prepare()
    except MissingInputs:
        # generated in a JVM of its own, shut down before the timed
        # set-up, so every set-up starts from an equally cold JVM
        t = time.perf_counter()
        bench.spark = start_session(work)
        bench.wl.prepare(bench.spark)
        bench.shutdown()
        log(f"inputs generated in {time.perf_counter() - t:.1f}s")
    try:
        setup = bench.setup()
        recs = bench.measure(args.seconds)
        e2e = end_to_end(bench, setup, recs)
        if args.trace:
            import tracing

            untraced = {"pass_s_p50": e2e["pass_s_p50"][0], "samples": len(recs)}
            event_log = os.path.join(work, "eventlog")
            shutil.rmtree(event_log, ignore_errors=True)
            os.makedirs(event_log)
            bench.setup(event_log)
            tracer = tracing.Tracer(bench.spark.sparkContext, f"{args.workload}-s{args.seed}")
            traced = bench.measure(args.seconds, tracer=tracer)
            metrics = {k: (v, unit_of(k)) for k, v in per_layer(
                bench, tracer, event_log, untraced, traced, setup).items()}
        else:
            metrics = e2e
    finally:
        bench.shutdown()
    shutil.rmtree(os.path.join(work, "run"), ignore_errors=True)
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)


if __name__ == "__main__":
    main()
