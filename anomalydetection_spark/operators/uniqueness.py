"""doc_id uniqueness check.

The reference's analog: first-wins content dedup + "every anomalous row
emitted exactly once with its score" (K1 sink semantics,
/root/reference/database_manager.py:254-264; dedup
/root/reference/log_parser.py:301-327).

Scale design (100 TB): a plain ``groupBy(key).count()`` already does
map-side partial aggregation (two-phase), so even a single key
duplicated millions of times reaches the final reducer as at most one
partial-count row per map task. Violation rows are recovered by joining
the (small) dup-key set back to the table — broadcast when it fits,
a shuffle join otherwise (plans/pipeline.py::validate_scope).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def key_present_sql(cols: list[str]) -> str:
    """SQL predicate: no part of the key is null. A key with a null part
    equals no other key (SQL equality), so it is never a duplicate —
    the rule of ``duplicate_keys``, the pass's dup keys and their
    equi-join attach."""
    return " AND ".join(f"`{c}` IS NOT NULL" for c in cols)


def duplicate_keys(df: DataFrame, key="doc_id") -> DataFrame:
    """Keys appearing more than once → (key..., dup_cnt). ``key`` may
    be one column name or a list (composite key) — the plan is the same
    single partial-agg groupBy either way. A key with a null part is
    never a duplicate (``key_present_sql``).

    Single groupBy: Spark's map-side partial aggregation IS the salted
    two-phase scheme — a key duplicated millions of times collapses to
    one partial-count row per map task before the shuffle, so the final
    reducer receives ≤ #tasks rows for it, exactly what an explicit
    (key, salt) pre-aggregation would deliver. An earlier draft salted
    explicitly with ``spark_partition_id() % salt_buckets``; that added
    a second full shuffle of near-unique keys for zero skew benefit
    (benchmarked ~1.7x slower).
    """
    cols = [key] if isinstance(key, str) else list(key)
    return (
        df.select(*cols)
        .filter(key_present_sql(cols))
        .groupBy(*cols)
        .agg(F.count("*").alias("dup_cnt"))
        .filter(F.col("dup_cnt") > 1)
    )
