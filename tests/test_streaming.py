"""Structured Streaming front-end: availableNow backlog drain,
checkpointed incremental processing (only new files on re-run — the
S4/S5 offset semantics), the violations and contract sinks, and
incremental profiling."""

from __future__ import annotations

import glob
import os
from dataclasses import replace

from pyspark.sql import functions as F

from anomalydetection_spark.config import DEFAULT_CONFIG
from anomalydetection_spark.streaming.incremental import stream_validate


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


def test_stream_probe_side_matches_rowlocal(
    spark, docs, catalog, tmp_path, monkeypatch, caplog
):
    """A micro-batch against a catalog beyond the broadcast cap takes
    the probe-side shape and writes the same violation rows (spans
    included) and verdict rows as the same micro-batch under the
    row-local shape."""
    import logging

    import anomalydetection_spark.operators.referential as R

    inp = str(tmp_path / "in")
    docs.coalesce(1).write.parquet(inp)

    def run(name):
        out = str(tmp_path / name)
        caplog.clear()
        with caplog.at_level(logging.INFO, logger=R.__name__):
            stream_validate(
                spark, inp, out, str(tmp_path / f"ck_{name}"),
                catalog=catalog, emit_violations=True,
            ).awaitTermination()
        (shape,) = [
            r.getMessage() for r in caplog.records if r.name == R.__name__
        ]
        rows = lambda sub: sorted(  # noqa: E731
            map(str, spark.read.parquet(os.path.join(out, sub)).collect())
        )
        return shape, rows("violations"), rows("verdicts")

    shape, *rowlocal = run("rowlocal")
    assert shape == "referential: row-local"
    monkeypatch.setattr(R, "BROADCAST_MAX_CATALOG_ROWS", catalog.count() - 1)
    shape, *probe = run("probe")
    assert shape.startswith("referential: probe-side (")
    assert rowlocal[0] and rowlocal[1]
    assert probe == rowlocal


def test_streaming_checkpoint_files_exist(spark, docs, catalog, tmp_path):
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write_batch(spark, docs, inp, 0, 2)
    stream_validate(spark, inp, out, ckpt, catalog=None).awaitTermination()
    # offsets recorded — the engine's last_read_position analog
    assert glob.glob(os.path.join(ckpt, "offsets", "*"))
    assert glob.glob(os.path.join(ckpt, "sources", "*", "*"))


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
