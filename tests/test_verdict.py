"""Verdict assembly: greedy similarity grouping (A11) and the two-level
rollup — reference semantics per SURVEY.md §2.6."""

from __future__ import annotations

from pyspark.sql import functions as F

from anomalydetection_spark.operators.verdict import (
    global_verdict,
    similarity_groups,
)


def test_similarity_groups_merges_near_duplicates(spark):
    rows = [
        ("g", "connection timeout to host alpha", 5.0),
        ("g", "connection timeout to host alphb", 3.0),
        ("g", "completely different message here", 1.0),
    ]
    df = spark.createDataFrame(rows, "part string, text string, score double")
    out = similarity_groups(df, "text", ["part"], ratio_threshold=0.85).collect()
    assert len(out) == 2
    big = max(out, key=lambda r: r.n_members)
    assert big.n_members == 2
    assert big.best_score == 5.0
    assert big.exemplar == "connection timeout to host alpha"


def test_similarity_groups_null_text_and_score(spark):
    """NULL texts are dropped before the greedy pass (SequenceMatcher
    cannot compare them — this used to crash the whole job) and NULL
    scores participate as -inf without poisoning exemplar choice."""
    rows = [
        ("g", "connection timeout to host alpha", 5.0),
        ("g", None, 9.0),
        ("g", "connection timeout to host alphb", None),
    ]
    df = spark.createDataFrame(rows, "part string, text string, score double")
    out = similarity_groups(df, "text", ["part"], ratio_threshold=0.85).collect()
    assert len(out) == 1
    assert out[0].n_members == 2
    assert out[0].exemplar == "connection timeout to host alpha"
    assert out[0].best_score == 5.0


def test_similarity_groups_truncation_keeps_top_scores(spark):
    """Oversized groups truncate by score DESC, so the max-score
    exemplar survives even when its text sorts alphabetically last."""
    rows = [("g", f"message {i:04d}", float(i)) for i in range(30)]
    rows.append(("g", "zzz top anomaly", 999.0))
    df = spark.createDataFrame(rows, "part string, text string, score double")
    out = similarity_groups(
        df, "text", ["part"], ratio_threshold=0.99, max_candidates=10
    ).collect()
    assert max(r.best_score for r in out) == 999.0


def test_similarity_groups_deterministic(spark, docs):
    d = docs.filter(F.col("spans").isNotNull() & (F.size("spans") > 0)).select(
        F.col("partition_id").cast("string").alias("part"),
        F.col("spans")[0]["text"].alias("text"),
        F.size("spans").cast("double").alias("score"),
    ).limit(300)
    a = sorted(map(tuple, similarity_groups(d, "text", ["part"]).collect()))
    b = sorted(map(tuple, similarity_groups(d, "text", ["part"]).collect()))
    assert a == b


def test_global_verdict_rollup(spark):
    rows = [
        ("uniq", 0, 100, 0, 0.0, 0.0, "pass"),
        ("uniq", 1, 100, 5, 0.05, 5.0, "fail"),
    ]
    df = spark.createDataFrame(
        rows,
        "check string, partition_id int, n_rows long, n_violations long,"
        " violation_rate double, score double, verdict string",
    )
    g = global_verdict(df).collect()
    assert len(g) == 1
    r = g[0]
    assert r.partition_id is None
    assert r.n_rows == 200 and r.n_violations == 5
    assert r.verdict == "fail"


def test_render_report(spark, docs, catalog):
    """Report renderer: bounded text, per-check summary consistent with
    verdicts, exemplars truncated + sanitized (no [ ] or < > survive),
    at most k per check."""
    from anomalydetection_spark.operators.report import (
        render_report,
        report_exemplars,
    )
    from anomalydetection_spark.plans.pipeline import run_validation

    res = run_validation(spark, docs, catalog=catalog)
    txt = render_report(res.verdicts, res.violations, k_exemplars=2)
    assert "VALIDATION REPORT" in txt and "overall: FAIL" in txt
    for check in ("uniqueness", "referential", "null_spans",
                  "span_coherence"):
        assert check in txt
    # exemplars bounded and clean
    ex = report_exemplars(res.violations, k=2, truncate_chars=50)
    counts = {r[0]: r[1] for r in ex.groupBy("check").count().collect()}
    assert counts and all(v <= 2 for v in counts.values())
    for r in ex.collect():
        assert len(r.exemplar) <= 53            # 50 + '...'
        assert "[" not in r.exemplar and "<" not in r.exemplar
