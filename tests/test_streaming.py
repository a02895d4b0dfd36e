"""Structured Streaming front-end: availableNow backlog drain,
checkpointed incremental processing (only new files on re-run — the
S4/S5 offset semantics), and watermarked windowed aggregation."""

from __future__ import annotations

import glob
import os
from dataclasses import replace

from pyspark.sql import functions as F

from anomalydetection_spark.config import DEFAULT_CONFIG
from anomalydetection_spark.streaming.incremental import (
    stream_validate,
    windowed_span_counts,
)


def _write_batch(spark, docs, path, lo, hi):
    docs.filter(
        (F.col("partition_id") >= lo) & (F.col("partition_id") < hi)
    ).write.mode("append").parquet(path)


def test_stream_validate_drains_backlog(spark, docs, catalog, tmp_path):
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write_batch(spark, docs, inp, 0, 4)

    q = stream_validate(spark, inp, out, ckpt, catalog=catalog)
    q.awaitTermination()
    v1 = spark.read.parquet(os.path.join(out, "verdicts"))
    assert v1.count() > 0
    checks = {r.check for r in v1.select("check").distinct().collect()}
    assert {"uniqueness_batch", "referential", "null_spans"} <= checks
    batches_1 = v1.select("batch_id").distinct().count()

    # second run with no new data: checkpoint says nothing pending
    q2 = stream_validate(spark, inp, out, ckpt, catalog=catalog)
    q2.awaitTermination()
    v2 = spark.read.parquet(os.path.join(out, "verdicts"))
    assert v2.count() == v1.count()

    # new file arrives → exactly the new partitions processed
    _write_batch(spark, docs, inp, 4, 8)
    q3 = stream_validate(spark, inp, out, ckpt, catalog=catalog)
    q3.awaitTermination()
    v3 = spark.read.parquet(os.path.join(out, "verdicts"))
    new_rows = v3.filter(~F.col("batch_id").isin(
        [r.batch_id for r in v1.select("batch_id").distinct().collect()]
    ))
    new_parts = {
        r.partition_id
        for r in new_rows.select("partition_id").distinct().collect()
    }
    assert new_parts and all(p >= 4 for p in new_parts)
    assert v3.select("batch_id").distinct().count() > batches_1


def test_streaming_checkpoint_files_exist(spark, docs, catalog, tmp_path):
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write_batch(spark, docs, inp, 0, 2)
    stream_validate(spark, inp, out, ckpt, catalog=None).awaitTermination()
    # offsets recorded — the engine's last_read_position analog
    assert glob.glob(os.path.join(ckpt, "offsets", "*"))
    assert glob.glob(os.path.join(ckpt, "sources", "*", "*"))


def test_stateful_running_stats_across_batches(spark, tmp_path):
    """applyInPandasWithState carries (count, sum, sum_sq) across
    micro-batches: totals accumulate, and a final spiked batch for one
    key is flagged against the pre-spike history."""
    import pandas as pd

    from anomalydetection_spark.streaming.incremental import (
        stateful_running_stats,
    )

    inp = str(tmp_path / "in")
    # 3 files = 3 micro-batches (maxFilesPerTrigger=1 below)
    for b in range(3):
        rows = []
        for i in range(60):
            val = 10.0 + (i % 5)
            if b == 2 and i < 30:
                val = 500.0  # spike for key 'a' in the last batch
            rows.append(("a" if i < 30 else "b", float(val)))
        pd.DataFrame(rows, columns=["key", "value"]).to_parquet(
            f"{inp}_f{b}.parquet"
        )
        import shutil, os as _os
        _os.makedirs(inp, exist_ok=True)
        shutil.move(f"{inp}_f{b}.parquet", f"{inp}/f{b}.parquet")

    stream = (
        spark.readStream.schema("key string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(inp)
    )
    out = stateful_running_stats(
        stream, ["key"], "value", sigma_k=3.0, min_history=30
    )
    q = (
        out.writeStream.format("memory")
        .queryName("stateful_stats")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM stateful_stats").collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r.key, []).append(r)
    # state accumulated: final total per key == 3 batches x 30 rows
    assert max(r.total_n for r in by_key["a"]) == 90
    assert max(r.total_n for r in by_key["b"]) == 90
    # the spiked batch for 'a' flagged, nothing for 'b'
    assert any(r.is_anomaly for r in by_key["a"])
    assert not any(r.is_anomaly for r in by_key["b"])


def test_windowed_counts_match_batch_groupby(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    got = {
        r.bucket_ts: r.n
        for r in windowed_span_counts(ev, window="1 hour").collect()
    }
    exp = {
        r.bucket_ts: r.n
        for r in ev.groupBy(
            F.date_trunc("hour", "ts").alias("bucket_ts")
        ).agg(F.count("*").alias("n")).collect()
    }
    assert got == exp


def test_stream_drift_verdicts_against_baseline(spark, docs, catalog, tmp_path):
    """With a stored baseline histogram, every micro-batch also emits
    drift_len_batch PSI/KS verdict rows; an identical-distribution
    baseline passes (the batch IS the baseline population)."""
    from anomalydetection_spark.operators.stats import length_histogram

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write_batch(spark, docs, inp, 0, 4)
    baseline = length_histogram(
        docs.filter(F.col("partition_id") < 4)
    ).cache()
    baseline.count()

    q = stream_validate(
        spark, inp, out, ckpt, catalog=catalog, baseline_hist=baseline
    )
    q.awaitTermination()
    v = spark.read.parquet(os.path.join(out, "verdicts"))
    drift = v.filter(F.col("check").startswith("drift_len_batch")).collect()
    assert drift, "no drift verdict rows emitted"
    # batch == baseline population -> zero drift, all pass
    assert all(r.verdict == "pass" for r in drift)


def test_stream_violations_sink_and_exemplar_cap(spark, docs, catalog, tmp_path):
    """Micro-batches emit exact violation rows under
    violations/batch_id=N; with cfg.max_violation_exemplars=K the stored
    rows are capped per (check, partition, batch) while the verdict
    counts stay EXACT (equal to the uncapped run's)."""
    inp = str(tmp_path / "in")
    _write_batch(spark, docs, inp, 0, 4)

    out_full = str(tmp_path / "out_full")
    stream_validate(
        spark, inp, out_full, str(tmp_path / "ck1"),
        catalog=catalog, emit_violations=True,
    ).awaitTermination()
    viols = spark.read.parquet(os.path.join(out_full, "violations"))
    assert viols.count() > 0
    assert "batch_id" in viols.columns  # partition-dir column
    checks = {r.check for r in viols.select("check").distinct().collect()}
    assert {"uniqueness", "conformance", "referential"} <= checks
    # span sequences travel verbatim on violation rows
    assert "spans" in viols.columns
    # no capping helper columns leak into the stored schema
    assert not [c for c in viols.columns if c.startswith("__")]

    out_cap = str(tmp_path / "out_cap")
    k = 2
    stream_validate(
        spark, inp, out_cap, str(tmp_path / "ck2"),
        catalog=catalog, emit_violations=True,
        cfg=replace(DEFAULT_CONFIG, max_violation_exemplars=k),
    ).awaitTermination()
    capped = spark.read.parquet(os.path.join(out_cap, "violations"))
    per_group = capped.groupBy("check", "partition_id", "batch_id").count()
    assert per_group.filter(F.col("count") > k).count() == 0
    assert not [c for c in capped.columns if c.startswith("__")]
    # every group that had violations keeps >=1 exemplar
    full_groups = {
        (r.check, r.partition_id)
        for r in viols.select("check", "partition_id").distinct().collect()
    }
    cap_groups = {
        (r.check, r.partition_id)
        for r in capped.select("check", "partition_id").distinct().collect()
    }
    assert full_groups == cap_groups

    # verdict counts identical between capped and uncapped runs
    def verdict_counts(out_dir):
        v = spark.read.parquet(os.path.join(out_dir, "verdicts"))
        return {
            (r.check, r.partition_id): r.n_violations
            for r in v.collect()
        }

    assert verdict_counts(out_cap) == verdict_counts(out_full)


def test_windowed_event_time_drift_watermark_bounds_late_rows(
    spark, tmp_path
):
    """Event-time windowed drift (windowed_event_time_drift): a window
    is finalized ONCE when the watermark passes its end, a row arriving
    later than the watermark is dropped (bounded state), and the
    finalized window's scores equal the batch path's drift_verdicts on
    the on-time rows alone."""
    import time

    from pyspark.sql import functions as F

    from anomalydetection_spark.operators import drift as drift_ops
    from anomalydetection_spark.operators import stats as stats_ops
    from anomalydetection_spark.streaming.incremental import (
        windowed_event_time_drift,
    )

    span_t = ("array<struct<kind string, text string, media_ref string,"
              " offset int>>")
    schema = f"doc_id string, spans {span_t}, partition_id int," \
             " event_ts timestamp"

    def doc(i, ts, kind="text", textlen=24):
        return (
            f"d{i}",
            [(kind, "x" * textlen if kind == "text" else None,
              None if kind == "text" else "m1", 0)],
            0,
            ts,
        )

    from datetime import datetime

    T0 = datetime(2024, 1, 1, 10, 0, 0)

    def at(h, m):
        return T0.replace(hour=h, minute=m)

    # batch 0: W1=[10:00,11:00) on-time rows
    f1 = [doc(i, at(10, 5 + i), textlen=16 + 8 * i) for i in range(4)]
    # batch 1: W2 rows at 12:30 -> watermark will pass 11:00
    f2 = [doc(10 + i, at(12, 30)) for i in range(2)]
    # batch 2: 13:30 row -> W1 is finalized in this batch (eviction
    # watermark 12:20 >= 11:00)
    f3 = [doc(20, at(13, 30))]
    # batch 3: a LATE W1 row (10:15 image, far older than the 12:20
    # input watermark) — must be DROPPED, never re-opening W1 state —
    # plus a 15:00 row that closes W2
    f4 = [doc(99, at(10, 15), kind="image"), doc(30, at(15, 0))]

    inp = str(tmp_path / "in")
    import os as _os

    _os.makedirs(inp, exist_ok=True)
    for n, rows in enumerate([f1, f2, f3, f4]):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"stage{n}"))
        import shutil

        for fn in _os.listdir(str(tmp_path / f"stage{n}")):
            if fn.endswith(".parquet"):
                shutil.copy(
                    str(tmp_path / f"stage{n}" / fn), f"{inp}/f{n}.parquet"
                )
        time.sleep(1.1)  # distinct mtimes -> deterministic file order

    # baseline: uniform histogram over the same bucket grid
    baseline = spark.createDataFrame(
        [("text", b, 10) for b in range(8)]
        + [("image", 0, 10)],
        "kind string, bucket int, count long",
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(inp)
    )
    out = str(tmp_path / "drift_out")
    q = windowed_event_time_drift(
        spark,
        stream,
        baseline,
        out,
        str(tmp_path / "ckpt_wm"),
        ts_col="event_ts",
        watermark="10 minutes",
        window="1 hour",
    )
    q.awaitTermination()

    got = spark.read.parquet(out)
    w1 = got.filter(F.col("window_start") == at(10, 0)).collect()
    # W1 finalized EXACTLY ONCE (one batch_id, one row per check): the
    # late 10:15 image row arriving after finalization was dropped by
    # the watermark — had it re-opened W1 state, a second W1 emission
    # (image-skewed scores, later batch_id) would appear here
    assert w1, "W1 window never finalized"
    assert len({r.batch_id for r in w1}) == 1
    checks = sorted(r.check for r in w1)
    assert len(checks) == len(set(checks))
    # scores equal the batch path's drift_verdicts over the ON-TIME
    # rows alone (image rows appear via the baseline side of the
    # full-outer share join in BOTH paths, with identical scores)
    ontime = spark.createDataFrame(f1, schema)
    expected = {
        r.check: r.score
        for r in drift_ops.drift_verdicts(
            stats_ops.length_histogram(ontime),
            baseline,
            keys=["kind"],
            psi_threshold=0.25,
            ks_threshold=0.2,
            check_prefix="drift_len_win",
        ).collect()
    }
    len_checks = [r for r in w1 if r.check.startswith("drift_len_win")]
    assert sorted(r.check for r in len_checks) == sorted(expected)
    for r in len_checks:
        assert abs(r.score - expected[r.check]) < 1e-9, r
    # kind-mix rows present for W1
    assert {r.check for r in w1} >= {
        "drift_kind_win_psi_mix", "drift_kind_win_ks_mix"
    }
    # W2 finalized exactly once as well
    w2 = got.filter(F.col("window_start") == at(12, 0)).collect()
    assert w2 and len({r.batch_id for r in w2}) == 1


def test_stateful_cross_batch_dups(spark, tmp_path):
    """Per-bucket Bloom state carried across micro-batches: keys
    repeated from an earlier batch are flagged probable_prior, repeats
    inside one batch are flagged within_batch (exactly — the filter is
    far under capacity so the FP term is ~2^-50 here)."""
    import pandas as pd

    from anomalydetection_spark.streaming.incremental import (
        stateful_cross_batch_dups,
    )

    inp = str(tmp_path / "in")
    os.makedirs(inp, exist_ok=True)
    batches = [
        [f"k{i}" for i in range(50)],                     # fresh
        [f"k{i}" for i in range(25, 75)],                 # 25 repeats
        [f"k{i}" for i in range(75, 80)] + ["k0", "k77", "k77"],
    ]
    for b, keys in enumerate(batches):
        pd.DataFrame({"doc_id": keys}).to_parquet(f"{inp}/f{b}.parquet")

    stream = (
        spark.readStream.schema("doc_id string")
        .option("maxFilesPerTrigger", 1)
        .parquet(inp)
    )
    q = (
        stateful_cross_batch_dups(stream, "doc_id", n_buckets=8)
        .writeStream.format("memory")
        .queryName("xbatch_dups")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM xbatch_dups").collect()
    prior = {r.doc_id for r in rows if r.probable_prior}
    within = [r.doc_id for r in rows if r.within_batch]
    # batch1 repeats k25..k49; batch2 repeats k0 cross-batch and k77
    # three times within the batch (occurrences 2 and 3 flagged)
    assert prior == {f"k{i}" for i in range(25, 50)} | {"k0"}
    assert within == ["k77", "k77"]
    assert not any(r.filter_saturated for r in rows)


def test_cross_batch_dups_nonstring_key(spark, tmp_path):
    """Key-column type flows from the stream schema into the state
    operator's output (a hardcoded 'string' key broke Arrow conversion
    for long keys)."""
    import pandas as pd

    from anomalydetection_spark.streaming.incremental import (
        stateful_cross_batch_dups,
    )

    inp = str(tmp_path / "in")
    os.makedirs(inp, exist_ok=True)
    pd.DataFrame({"user_id": [1, 2, 3]}).to_parquet(f"{inp}/f0.parquet")
    pd.DataFrame({"user_id": [2, 4, 4]}).to_parquet(f"{inp}/f1.parquet")

    stream = (
        spark.readStream.schema("user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(inp)
    )
    q = (
        stateful_cross_batch_dups(stream, "user_id", n_buckets=4)
        .writeStream.format("memory")
        .queryName("xbatch_long_key")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM xbatch_long_key").collect()
    assert {r.user_id for r in rows if r.probable_prior} == {2}
    assert [r.user_id for r in rows if r.within_batch] == [4]


def test_stream_profile_accumulates_state(spark, docs, tmp_path):
    """Streaming incremental profiling: the availableNow drain folds
    every micro-batch into the versioned state store; a re-run with no
    new files appends nothing; new files extend the profile without
    reprocessing old ones (checkpoint + append-refusal semantics)."""
    from anomalydetection_spark.operators.incremental_profile import (
        IncrementalProfiler,
    )
    from anomalydetection_spark.streaming.incremental import stream_profile

    inp = str(tmp_path / "in")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    _write_batch(spark, docs, inp, 0, 4)

    stream_profile(spark, inp, state, ckpt).awaitTermination()
    ip = IncrementalProfiler(state)
    v1 = ip.current_version()
    assert v1 >= 1
    prof1 = {r["column"]: r["n_rows"] for r in ip.profile(spark).collect()}
    expect1 = spark.read.parquet(inp).count()
    assert prof1["doc_id"] == expect1

    # no new files: nothing appended
    stream_profile(spark, inp, state, ckpt).awaitTermination()
    assert ip.current_version() == v1

    # new files: state extends to the full directory count
    _write_batch(spark, docs, inp, 4, 8)
    stream_profile(spark, inp, state, ckpt).awaitTermination()
    prof2 = {r["column"]: r["n_rows"] for r in ip.profile(spark).collect()}
    assert prof2["doc_id"] == spark.read.parquet(inp).count()
    assert prof2["doc_id"] > expect1


def test_stream_validate_contract_verdicts(spark, docs, catalog, tmp_path):
    """A contract is judged per micro-batch with the SAME two-tier
    semantics as batch: column/expression/JSON rules compile into the
    one agg, structural issues (a JSON rule on an int column) surface
    as schema:* fail rows instead of crashing the stream, and the
    per-batch_id overwrite keeps replays idempotent. The stream schema
    override carries the extra payload column."""
    from pyspark.sql import types as T

    from anomalydetection_spark.operators.contract import (
        ColumnRule,
        Contract,
        ExpressionRule,
        JsonRule,
    )
    from anomalydetection_spark.schema import DOCUMENTS_SCHEMA

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    # docs + a JSON payload column with a planted type mix: ~1/5 of
    # rows carry a string value for key k, the rest numbers
    h = F.abs(F.xxhash64("doc_id"))
    docs2 = docs.withColumn(
        "props",
        F.when(h % 5 == 0, F.lit('{"k": "str"}')).otherwise(
            F.concat(F.lit('{"k": '), (h % 9).cast("string"), F.lit("}"))
        ),
    )
    docs2.write.mode("append").parquet(inp)
    stream_schema = T.StructType(
        list(DOCUMENTS_SCHEMA.fields)
        + [T.StructField("props", T.StringType())]
    )

    c = Contract(
        columns={"doc_id": ColumnRule(nullable=False)},
        expressions={"has_pid": ExpressionRule("partition_id >= 0")},
        json={
            "props": JsonRule(required=("k",), types={"k": ("number",)}),
            # structural: an int column can't carry a JSON rule — must
            # become a schema:invalid_json_rule fail row, not a crash
            "partition_id": JsonRule(required=("k",)),
        },
    )
    q = stream_validate(
        spark, inp, out, ckpt, catalog=catalog, contract=c,
        schema=stream_schema,
    )
    q.awaitTermination()
    cv = spark.read.parquet(os.path.join(out, "contract_verdicts"))
    got: dict[tuple, set] = {}
    for r in cv.collect():
        got.setdefault((r.check, r.column), set()).add(r.verdict)
    # the planted type mix must fail in at least one micro-batch (a
    # small batch could by chance hold only numeric values for k)
    assert "fail" in got[("rule:json_type:k", "props")]
    assert got[("rule:json_required:k", "props")] == {"pass"}
    assert got[("rule:expr:has_pid", "*")] == {"pass"}
    assert got[("rule:null", "doc_id")] == {"pass"}
    assert got[("schema:invalid_json_rule", "partition_id")] == {"fail"}
    # parquet schemas are always nullable → the NOT NULL declaration is
    # a structural finding even though the data tier counts zero nulls
    assert got[("schema:nullable_mismatch", "doc_id")] == {"fail"}
    # every batch directory is a self-contained verdict set: per-batch
    # verdicts for the same (check, column) must agree with the global
    # read-back above (structural rows are schema-scoped constants)
    batch_dirs = [
        d for d in os.listdir(os.path.join(out, "contract_verdicts"))
        if d.startswith("batch_id=")
    ]
    assert len(batch_dirs) >= 1


def test_stateful_sessionize_gap_and_timeout(spark, tmp_path):
    """Cross-batch session assembly: a later-batch event beyond the
    gap closes the open session ('gap'); the event-time watermark
    advancing past an idle session's window flushes it ('timeout')."""
    import os
    import pandas as pd

    from anomalydetection_spark.streaming.incremental import (
        stateful_sessionize,
    )

    inp = str(tmp_path / "sess_in")
    os.makedirs(inp, exist_ok=True)
    t0 = pd.Timestamp("2024-01-01 00:00:00")
    batches = [
        [(1, t0), (1, t0 + pd.Timedelta(seconds=10))],
        [(1, t0 + pd.Timedelta(hours=1))],      # gap closes session A
        [(2, t0 + pd.Timedelta(hours=5))],      # advances watermark
        [(2, t0 + pd.Timedelta(hours=6))],      # timeout evaluated
    ]
    for b, rows in enumerate(batches):
        pd.DataFrame(rows, columns=["user_id", "ts"]).to_parquet(
            f"{inp}/f{b}.parquet",
            coerce_timestamps="us",  # Spark reads micros, pandas writes ns
        )
    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(inp)
    )
    out = stateful_sessionize(
        stream, "user_id", "ts", gap_s=1800, watermark="30 minutes"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql(
        "SELECT * FROM sessions_out ORDER BY session_start"
    ).collect()
    u1 = [r for r in rows if r.user == 1]
    assert len(u1) == 2
    a, b = u1
    assert a.closed_by == "gap" and a.n_events == 2
    assert a.session_end.second == 10
    assert b.closed_by == "timeout" and b.n_events == 1
