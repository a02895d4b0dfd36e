"""Uniqueness check: planted duplicate doc_ids found exactly once each,
verdicts at per-partition granularity (SURVEY.md §5 item 1; reference
semantics: every anomalous row emitted with its score,
/root/reference/database_manager.py:254-264)."""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import functions as F

from anomalydetection_spark.config import DEFAULT_CONFIG
from anomalydetection_spark.operators.uniqueness import duplicate_keys
from anomalydetection_spark.plans.pipeline import run_validation
from anomalydetection_spark.schema import DOCUMENTS_SCHEMA


def _uniqueness_rows(res):
    return res.violations.filter(F.col("check") == "uniqueness")


def test_duplicate_keys_exact(docs, expected):
    found = {r.doc_id for r in duplicate_keys(docs, "doc_id").collect()}
    assert found == expected["uniqueness"]


def test_duplicate_counts_are_two(docs):
    """Generator plants exactly pairwise dups (i and i-1 share an id)."""
    rows = duplicate_keys(docs, "doc_id").collect()
    assert rows and all(r.dup_cnt == 2 for r in rows)


def test_violations_carry_full_rows(docs, expected):
    v = _uniqueness_rows(run_validation(docs.sparkSession, docs))
    # every duplicated key contributes BOTH of its rows, spans intact
    assert v.count() == 2 * len(expected["uniqueness"])
    assert set(v.columns) >= {"doc_id", "spans", "partition_id", "detail"}
    assert {r.detail for r in v.collect()} == {"dup_cnt=2"}
    # span sequences on violation rows match the source rows verbatim
    orig = docs.join(
        F.broadcast(duplicate_keys(docs, "doc_id").select("doc_id")),
        "doc_id",
    ).select("doc_id", "spans")
    assert v.select("doc_id", "spans").exceptAll(orig).count() == 0


def test_per_partition_verdicts(docs, expected):
    res = run_validation(docs.sparkSession, docs)
    v = [
        r for r in res.verdicts.collect()
        if r.check == "uniqueness" and r.partition_id is not None
    ]
    failed = {r.partition_id for r in v if r.verdict == "fail"}
    # partitions actually containing a duplicated key's rows
    dup_parts = {
        r.partition_id
        for r in docs.join(
            duplicate_keys(docs).select("doc_id"), "doc_id"
        ).select("partition_id").distinct().collect()
    }
    assert failed == dup_parts
    total_viol = sum(r.n_violations for r in v)
    assert total_viol == 2 * len(expected["uniqueness"])


def test_clean_table_passes(spark):
    spans = [("text", "hi", None, 0)]
    df = spark.createDataFrame(
        [("a", spans, 0), ("b", spans, 0), ("c", spans, 1)],
        DOCUMENTS_SCHEMA,
    )
    assert duplicate_keys(df).count() == 0
    res = run_validation(spark, df)
    assert _uniqueness_rows(res).count() == 0
    uniq = [r for r in res.verdicts.collect() if r.check == "uniqueness"]
    assert uniq and all(r.verdict == "pass" for r in uniq)


def test_composite_key_duplicates(spark):
    """Composite keys: duplicates on (a, b) pairs, not on either column
    alone; violations join back on the full key list."""
    df = spark.createDataFrame(
        [(1, "x", 10), (1, "y", 11), (2, "x", 12), (1, "x", 13), (3, "z", 14)],
        "a bigint, b string, v bigint",
    )
    dups = duplicate_keys(df, ["a", "b"]).collect()
    assert [(r.a, r.b, r.dup_cnt) for r in dups] == [(1, "x", 2)]
    docs = df.select(
        "a", "b",
        F.concat(F.lit("doc"), F.col("v")).alias("doc_id"),
        F.lit(0).alias("partition_id"),
        F.lit(None).cast(DOCUMENTS_SCHEMA["spans"].dataType).alias("spans"),
    )
    res = run_validation(
        spark, docs, cfg=replace(DEFAULT_CONFIG, unique_key=["a", "b"])
    )
    assert sorted(r.doc_id for r in _uniqueness_rows(res).collect()) == [
        "doc10", "doc13",
    ]
