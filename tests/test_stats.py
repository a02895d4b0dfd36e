"""Conformance and span statistics: the pass's conformance flags match
the planted sets, histograms conserve mass, HLL distinct counts are
within sketch error (SURVEY.md §5 item 1)."""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import functions as F

from anomalydetection_spark.config import DEFAULT_CONFIG
from anomalydetection_spark.operators import stats as S
from anomalydetection_spark.plans.pipeline import run_validation


def _conformance_ids(violations, name):
    """doc_ids whose conformance violation row names check ``name``."""
    return {
        r.doc_id
        for r in violations.filter(
            (F.col("check") == "conformance")
            & F.col("detail").contains(name)
        ).collect()
    }


def test_conformance_flags_exact(docs, expected):
    """The pass's conformance rows flag exactly the planted docs."""
    v = run_validation(docs.sparkSession, docs).violations
    assert _conformance_ids(v, "null_spans") == expected["null_spans"]
    assert _conformance_ids(v, "empty_spans") == expected["empty_spans"]
    assert _conformance_ids(v, "offset_monotonicity") == expected["nonmono"]
    assert _conformance_ids(v, "span_coherence") == expected["incoherent"]


def test_partition_stats_sum_to_table(docs):
    """Per-partition verdict rows cover every row exactly once: for
    each check, n_rows summed over partitions is the table count, and
    the table-level rollup row carries the same total."""
    verdicts = run_validation(docs.sparkSession, docs).verdicts.collect()
    n = docs.count()
    for check in ("uniqueness", *S.CONF_CHECKS):
        rows = [r for r in verdicts if r.check == check]
        assert sum(r.n_rows for r in rows if r.partition_id is not None) == n
        (table,) = [r for r in rows if r.partition_id is None]
        assert table.n_rows == n


def test_hll_vs_exact_distinct(docs):
    """Per-partition doc_id HLL partials merge to within sketch error of
    the exact distinct count (planted duplicate ids included)."""
    from anomalydetection_spark.operators.incremental_profile import (
        merge_partials,
        profile_partials,
    )

    merged = {
        r["column"]: r["n_distinct"]
        for r in merge_partials(
            profile_partials(docs.select("doc_id", "partition_id"),
                             "partition_id")
        ).collect()
    }
    exact = docs.select(F.countDistinct("doc_id")).first()[0]
    assert abs(merged["doc_id"] - exact) / exact < 0.05


def test_length_histogram_mass(docs):
    h = S.length_histogram(docs, bins=64, bin_width=8)
    total = h.agg(F.sum("count")).first()[0]
    n_spans = docs.select(
        F.sum(F.coalesce(F.size("spans"), F.lit(0)))
    ).first()[0]
    assert total == n_spans
    assert h.filter((F.col("bucket") < 0) | (F.col("bucket") > 63)).count() == 0


def test_kind_histogram_covers_all_kinds(docs):
    """The pass's own length histogram (returned for baseline rotation)
    covers every span kind, the null kind included."""
    base = S.length_histogram(docs)
    res = run_validation(docs.sparkSession, docs, baseline_hist=base)
    kinds = {r.kind for r in res.current_hist.collect()}
    assert {"text", "image", "audio", "table", "__null__"} <= kinds


def test_conformance_verdicts_thresholds(docs):
    # planted rates ≈0.15-0.5% — a 50% gate passes, a 0.0001% gate fails
    spark = docs.sparkSession
    lax = run_validation(spark, docs, cfg=replace(
        DEFAULT_CONFIG, max_null_rate=0.5, max_type_error_rate=0.5))
    strict = run_validation(spark, docs, cfg=replace(
        DEFAULT_CONFIG, max_null_rate=1e-6, max_type_error_rate=1e-6))

    def conf(res):
        return [r for r in res.verdicts.collect() if r.check in S.CONF_CHECKS]

    assert all(r.verdict == "pass" for r in conf(lax))
    assert any(r.verdict == "fail" for r in conf(strict))


def test_conformance_violations_detail(docs, expected):
    v = S.conformance_violations(docs)
    got = {r.doc_id: r.detail for r in v.collect()}
    for d in expected["null_spans"]:
        assert "null_spans" in got[d]
    for d in expected["nonmono"]:
        assert "offset_monotonicity" in got[d]
    for d in expected["incoherent"]:
        assert "span_coherence" in got[d]


def test_conformance_names_are_conf_checks(docs):
    """One conformance definition: the detail names of
    ``conformance_violations`` and of the pass's violation rows, and the
    pass's conformance verdict checks, are all exactly CONF_CHECKS."""

    def names(v):
        return {
            name
            for r in v.select("detail").distinct().collect()
            for name in r.detail.split(",")
        }

    res = run_validation(docs.sparkSession, docs)
    assert names(S.conformance_violations(docs)) == set(S.CONF_CHECKS)
    assert names(
        res.violations.filter(F.col("check") == "conformance")
    ) == set(S.CONF_CHECKS)
    verdict_checks = {r.check for r in res.verdicts.collect()}
    assert verdict_checks - {"uniqueness"} == set(S.CONF_CHECKS)


def test_profile_table_generic(spark):
    """One-pass profiler: approx distinct within 5% of exact, per-type
    metric blocks present, null accounting right."""
    from anomalydetection_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [(i, float(i % 97), f"s{i % 13}", [1] * (i % 4), i % 2 == 0)
         for i in range(5000)]
        + [(None, None, None, None, None)] * 50,
        "k bigint, v double, s string, arr array<int>, b boolean",
    )
    prof = {
        (r.column, r.metric): r.value
        for r in profile_table(df).collect()
    }
    assert prof[("k", "n_rows")] == 5050.0
    assert prof[("k", "n_null")] == 50.0
    assert abs(prof[("k", "null_rate")] - 50 / 5050) < 1e-6  # round-6 output
    assert abs(prof[("k", "n_distinct")] - 5000) / 5000 < 0.05  # HLL
    assert prof[("v", "max")] == 96.0
    assert prof[("s", "max_len")] >= 2.0
    assert prof[("arr", "max_size")] == 3.0
    assert abs(prof[("b", "true_rate")] - 0.5) < 0.01

    exact = {
        (r.column, r.metric): r.value
        for r in profile_table(df, exact_distinct=True).collect()
    }
    assert exact[("k", "n_distinct")] == 5000.0
    assert exact[("s", "n_distinct")] == 13.0


def test_profile_table_grouped(spark, docs):
    """group_cols: per-partition profile in one pass; group totals
    match per-partition counts."""
    from anomalydetection_spark.operators.profile import profile_table

    prof = profile_table(
        docs, columns=["doc_id", "spans"], group_cols=["partition_id"]
    )
    rows = {
        (r.partition_id, r.column, r.metric): r.value
        for r in prof.collect()
    }
    totals = {
        r.partition_id: r.n
        for r in docs.groupBy("partition_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for pid, n in totals.items():
        assert rows[(pid, "doc_id", "n_rows")] == float(n)
    assert any(m == "avg_size" for (_, c, m) in rows if c == "spans")


def test_profile_drift_semantics(spark):
    """profile_drift verdict table: added/removed schema changes fail;
    rate metrics gate on absolute delta; shape metrics on relative
    change with the 0 -> nonzero flip failing; info metrics and
    null-valued comparisons never fail."""
    from anomalydetection_spark.operators.profile import profile_drift

    schema = "column string, metric string, value double"
    base = spark.createDataFrame(
        [
            ("a", "null_rate", 0.01),   # |Δ|=0.02 <= 0.05 -> pass
            ("a", "avg", 10.0),         # rel 0.2 <= 0.5 -> pass
            ("a", "stddev", 2.0),       # rel 2.0 > 0.5 -> fail
            ("a", "n_rows", 100.0),     # info -> pass despite 10x
            ("b", "min", 0.0),          # 0 -> nonzero flip -> fail
            ("b", "max", 0.0),          # 0 -> 0 -> pass
            ("b", "stddev", None),      # null comparison -> pass
            ("gone", "avg", 5.0),       # removed -> fail
        ],
        schema,
    )
    cur = spark.createDataFrame(
        [
            ("a", "null_rate", 0.03),
            ("a", "avg", 12.0),
            ("a", "stddev", 6.0),
            ("a", "n_rows", 1000.0),
            ("b", "min", 3.0),
            ("b", "max", 0.0),
            ("b", "stddev", 1.0),
            ("new", "avg", 1.0),        # added -> fail
        ],
        schema,
    )
    out = {
        (r.column, r.metric): r
        for r in profile_drift(cur, base).collect()
    }
    assert len(out) == 9
    assert out[("a", "null_rate")].verdict == "pass"
    assert out[("a", "avg")].verdict == "pass"
    assert out[("a", "avg")].rel_change == 0.2
    assert out[("a", "stddev")].verdict == "fail"
    assert out[("a", "n_rows")].verdict == "pass"
    assert out[("b", "min")].verdict == "fail"
    assert out[("b", "max")].verdict == "pass"
    assert out[("b", "stddev")].verdict == "pass"
    assert out[("b", "stddev")].delta is None
    assert out[("gone", "avg")].status == "removed"
    assert out[("gone", "avg")].verdict == "fail"
    assert out[("new", "avg")].status == "added"
    assert out[("new", "avg")].verdict == "fail"
    assert out[("new", "avg")].base_value is None


def test_hll_pairwise_overlap_controlled_sets(spark):
    """Planted overlap: A=0..2999, B=2000..4999, C=9000..9099 (tiny,
    disjoint from A). Inclusion-exclusion must land within a few
    percent on the big partial overlap and report ~0 for the disjoint
    pair."""
    from anomalydetection_spark.operators.stats import (
        hll_pairwise_overlap,
    )

    rows = (
        [("A", i) for i in range(0, 3000)]
        + [("B", i) for i in range(2000, 5000)]
        + [("C", i) for i in range(9000, 9100)]
    )
    df = spark.createDataFrame(rows, "g string, v long")
    out = {
        (r["group_a"], r["group_b"]): r
        for r in hll_pairwise_overlap(df, "g", "v").collect()
    }
    ab = out[("A", "B")]
    assert abs(ab["est_intersection"] - 1000) / 1000 < 0.08
    assert abs(ab["est_union"] - 5000) / 5000 < 0.05
    ac = out[("A", "C")]
    # disjoint: estimate is noise around zero, bounded by union error
    assert abs(ac["est_intersection"]) < 0.05 * 3100
    assert 0.15 < ab["jaccard_est"] < 0.25


def test_hll_pairwise_overlap_null_values_excluded(spark):
    from anomalydetection_spark.operators.stats import (
        hll_pairwise_overlap,
    )

    df = spark.createDataFrame(
        [("A", 1), ("A", None), ("B", 1), ("B", 2)], "g string, v long"
    )
    r = hll_pairwise_overlap(df, "g", "v").collect()[0]
    assert round(r["est_a"]) == 1 and round(r["est_b"]) == 2
    assert round(r["est_intersection"]) == 1
