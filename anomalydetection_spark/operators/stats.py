"""Conformance check definitions and span statistics.

The engine's analog of the reference's feature-extraction stage (A1,
/root/reference/model_manager.py:154-198) re-expressed as declarative
column expressions: instead of a TF-IDF matrix on the driver, row-local
flags that feed the conformance verdicts directly, and the length
histograms that are the drift input.

Everything here is built-in JVM expressions and aggregation (whole-stage
codegen, map-side partial agg) — no Python in the hot path.

- conformance (SURVEY.md §2.2 F1-F6 analogs): null / empty spans,
  offset monotonicity per doc (the F4/F5 timestamp-parse-rate analog for
  the interleaved shape), null span kinds, kind<->media_ref coherence
- equi-width per-kind text-length histograms (drift input)
- pairwise distinct-set overlap from HLL sketches
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MONOTONE_EXPR = (
    "size(spans) <= 1 OR "
    "forall(transform(sequence(1, size(spans)-1),"
    " i -> spans[i].offset > spans[i-1].offset), x -> x)"
)


def incoherent_span_filter(s):
    """kind<->media_ref coherence predicate for one span struct: a text
    span must not carry a media_ref, a non-text (media) span must carry
    one; null-kind spans are excluded (flagged by null_span_kind).
    Interleaved-payload rule — no analog in the reference's flat log
    lines; the north_star's text+media document shape requires it."""
    return s["kind"].isNotNull() & (
        ((s["kind"] == "text") & s["media_ref"].isNotNull())
        | ((s["kind"] != "text") & s["media_ref"].isNull())
    )


def length_histogram(
    docs: DataFrame, bins: int = 64, bin_width: int = 8, by_partition: bool = False
) -> DataFrame:
    """Equi-width text-length histogram per span kind (drift input).

    Bucket = min(len // bin_width, bins-1); bounded cardinality like the
    reference's bounded cluster tree (drain3.ini:74-77).
    """
    keys = (["partition_id"] if by_partition else []) + ["kind", "bucket"]
    return (
        docs.select("partition_id", F.explode("spans").alias("s"))
        .select(
            "partition_id",
            F.coalesce(F.col("s.kind"), F.lit("__null__")).alias("kind"),
            F.least(
                F.floor(F.length(F.coalesce(F.col("s.text"), F.lit(""))) / bin_width),
                F.lit(bins - 1),
            )
            .cast("int")
            .alias("bucket"),
        )
        .groupBy(*keys)
        .agg(F.count("*").alias("count"))
    )


CONF_CHECKS = (
    "null_spans", "empty_spans", "offset_monotonicity", "null_span_kind",
    "span_coherence",
)


def conformance_exprs() -> dict:
    """The five row-local conformance flags — the ONE place the check
    definitions live: every CONF_CHECKS name → its boolean Column, in
    CONF_CHECKS order. Shared by the full pass's wide scan, the sampled
    pre-flight and ``conformance_violations``, so a tightened definition
    cannot make any of them disagree."""
    null_spans = F.col("spans").isNull()
    return {
        "null_spans": null_spans,
        "empty_spans": F.col("spans").isNotNull() & (F.size("spans") == 0),
        "offset_monotonicity": F.when(null_spans, F.lit(False)).otherwise(
            ~F.expr(MONOTONE_EXPR)
        ),
        "null_span_kind": F.coalesce(
            F.size(F.filter("spans", lambda s: s["kind"].isNull())), F.lit(0)
        ) > 0,
        "span_coherence": F.coalesce(
            F.size(F.filter("spans", incoherent_span_filter)), F.lit(0)
        ) > 0,
    }


def conformance_detail() -> Column:
    """Comma-joined names of the conformance checks a row fails ("" when
    it passes all of them) — the violation rows' detail string."""
    return F.concat_ws(
        ",", *[F.when(flag, name) for name, flag in conformance_exprs().items()]
    )


def conformance_violations(docs: DataFrame) -> DataFrame:
    """Exact violating doc rows for the conformance checks, with the
    original span sequence verbatim (span-sequence equality invariant).

    Flags are row-local → computed inline, no join (a self-join on
    doc_id would fan out across planted duplicate ids)."""
    return (
        docs.select(
            "doc_id", "partition_id", "spans",
            conformance_detail().alias("detail"),
        )
        .filter(F.col("detail") != "")
    )


def hll_pairwise_overlap(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Pairwise distinct-set overlap between groups, estimated from
    HLL sketches alone — |A∩B| by inclusion-exclusion
    (est_a + est_b - est_union) without ever shuffling the underlying
    values across groups.

    Why this shape at 100 TB: the exact answer is a value-level
    self-join (shuffle = the full distinct relation, per pair); the
    sketch answer aggregates each group to a ~4 KB DataSketches HLL
    in ONE pass (hll_sketch_agg is partition-mergeable), then the
    |G|^2/2 pair join runs over |G| sketch ROWS — metadata scale for
    any bounded group count. hll_union is the lossless sketch merge,
    so est_union inherits the single-sketch error bound; the
    intersection estimate's ABSOLUTE error is ~the union's, so its
    relative error degrades as |A∩B| / |A∪B| shrinks — callers gating
    on jaccard_est should treat small-overlap pairs as "below
    detection", not as precise zeros (same honesty contract as the
    Bloom degradation path in decontaminate.py).

    Output: one row per unordered group pair with est_a/est_b/
    est_union/est_intersection (floats, sketch-derived) and
    jaccard_est.
    """
    sk = df.filter(F.col(value_col).isNotNull()).groupBy(group_col).agg(
        F.expr(f"hll_sketch_agg({value_col})").alias("_s")
    )
    a = sk.select(
        F.col(group_col).alias("group_a"), F.col("_s").alias("_sa")
    )
    b = sk.select(
        F.col(group_col).alias("group_b"), F.col("_s").alias("_sb")
    )
    pairs = a.join(b, F.col("group_a") < F.col("group_b"))
    return pairs.select(
        "group_a",
        "group_b",
        F.expr("hll_sketch_estimate(_sa)").alias("est_a"),
        F.expr("hll_sketch_estimate(_sb)").alias("est_b"),
        F.expr("hll_sketch_estimate(hll_union(_sa, _sb))").alias(
            "est_union"
        ),
    ).select(
        "group_a",
        "group_b",
        "est_a",
        "est_b",
        "est_union",
        (F.col("est_a") + F.col("est_b") - F.col("est_union")).alias(
            "est_intersection"
        ),
        (
            (F.col("est_a") + F.col("est_b") - F.col("est_union"))
            / F.col("est_union")
        ).alias("jaccard_est"),
    )
