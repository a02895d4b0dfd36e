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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def span_codes_sql(bins: int = 64, bin_width: int = 8) -> str:
    """Each span's (kind, bucket) histogram code, as SQL over ``spans``:
    kind (``__null__`` for a null kind or span) and bucket =
    min(text length // bin_width, bins-1), a bounded cardinality like
    the reference's bounded cluster tree (drain3.ini:74-77)."""
    return (
        "transform(spans, s -> named_struct("
        "'kind', coalesce(s.kind, '__null__'),"
        f" 'bucket', CAST(least(floor(length(coalesce(s.text, ''))"
        f" / {bin_width}), {bins - 1}) AS INT)))"
    )


def length_histogram(
    docs: DataFrame, bins: int = 64, bin_width: int = 8, by_partition: bool = False
) -> DataFrame:
    """Equi-width text-length histogram per span kind (drift input):
    (kind, bucket, count) rows, or per partition with ``by_partition``."""
    keys = (["partition_id"] if by_partition else []) + ["kind", "bucket"]
    return (
        docs.selectExpr(
            "partition_id", f"inline({span_codes_sql(bins, bin_width)})"
        )
        .groupBy(*keys)
        .agg(F.count("*").alias("count"))
    )


# One flag per span that breaks kind<->media_ref coherence: a text span
# must not carry a media_ref, a non-text (media) span must carry one;
# null-kind spans are left to null_span_kind. Interleaved-payload rule —
# no analog in the reference's flat log lines.
INCOHERENT_SPANS_SQL = (
    "filter(zip_with(spans.kind, spans.media_ref,"
    " (k, m) -> k IS NOT NULL AND ((k = 'text' AND m IS NOT NULL)"
    " OR (k != 'text' AND m IS NULL))), x -> x)"
)
# The five row-local conformance checks — the ONE place their
# definitions live: name → SQL predicate, in verdict order. Each reads
# only the ``kind``, ``media_ref`` and ``offset`` subfields of ``spans``
# (never the struct whole), so parquet nested-schema pruning keeps
# ``text`` out of every narrow scan that evaluates them. A null span
# element reads as null subfields; ``spans.offset IS NULL`` is exactly
# ``spans IS NULL``.
_OFFSETS = "spans.offset"
_PAIRS = f"greatest(size({_OFFSETS}) - 1, 0)"
CONF_SQL = {
    "null_spans": f"{_OFFSETS} IS NULL",
    "empty_spans": f"{_OFFSETS} IS NOT NULL AND size({_OFFSETS}) = 0",
    # every offset strictly above its predecessor (a null offset makes
    # the check unknown, never a violation)
    "offset_monotonicity": (
        f"CASE WHEN {_OFFSETS} IS NULL THEN false ELSE NOT ("
        f"size({_OFFSETS}) <= 1 OR forall(zip_with("
        f"slice({_OFFSETS}, 2, {_PAIRS}), slice({_OFFSETS}, 1, {_PAIRS}),"
        " (a, b) -> a > b), x -> x)) END"
    ),
    "null_span_kind": (
        "coalesce(size(filter(spans.kind, k -> k IS NULL)), 0) > 0"
    ),
    "span_coherence": f"coalesce(size({INCOHERENT_SPANS_SQL}), 0) > 0",
}
CONF_CHECKS = tuple(CONF_SQL)

# Comma-joined names of the checks a row fails ("" when it passes all).
CONF_DETAIL_SQL = "concat_ws(',', {})".format(
    ", ".join(
        f"CASE WHEN {pred} THEN '{name}' END"
        for name, pred in CONF_SQL.items()
    )
)


def conformance_violations(docs: DataFrame) -> DataFrame:
    """Exact violating doc rows for the conformance checks, with the
    original span sequence verbatim (span-sequence equality invariant).

    Flags are row-local → computed inline, no join (a self-join on
    doc_id would fan out across planted duplicate ids)."""
    return docs.selectExpr(
        "doc_id", "partition_id", "spans", f"{CONF_DETAIL_SQL} AS detail"
    ).filter("detail != ''")


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
