"""Declared schemas for the engine's tables.

The reference's schemas are implicit (dict-key conventions + SQLite DDL,
/root/reference/database_manager.py:17-64). Here everything is an explicit
StructType; the ``documents`` shape is authoritative from BASELINE.json's
input_hint.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import types as T

SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), True),
    ]
)

# Primary input: interleaved text+media documents (BASELINE.json input_hint).
DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT), True),
        T.StructField("partition_id", T.IntegerType(), False),
    ]
)

# Referential target for spans.media_ref.
MEDIA_CATALOG_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("media_kind", T.StringType(), True),
        T.StructField("size_bytes", T.LongType(), True),
    ]
)

# Violation rows — the engine's analog of the reference's
# anomaly_log_texts sink (database_manager.py:51-58), extended with
# check name, partition lineage and score. ``spans`` carries the
# ORIGINAL span sequence verbatim (span-sequence equality invariant).
VIOLATIONS_SCHEMA = T.StructType(
    [
        T.StructField("check", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), True),
        T.StructField("doc_id", T.StringType(), True),
        T.StructField("detail", T.StringType(), True),
        T.StructField("score", T.DoubleType(), True),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT), True),
    ]
)

# Per-partition verdicts: the reference's per-file pass/fail plus the
# ensemble-level global verdict (SURVEY.md 3.3 two-level shape).
VERDICTS_SCHEMA = T.StructType(
    [
        T.StructField("check", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), True),  # null == table-level
        T.StructField("n_rows", T.LongType(), True),
        T.StructField("n_violations", T.LongType(), True),
        T.StructField("violation_rate", T.DoubleType(), True),
        T.StructField("score", T.DoubleType(), True),
        T.StructField("verdict", T.StringType(), False),  # 'pass' | 'fail'
    ]
)

# The verdict rows as the engine materializes them from driver-side
# rows (every column nullable; same names and types as VERDICTS_SCHEMA).
VERDICTS_DDL = (
    "check string, partition_id int, n_rows long, n_violations long,"
    " violation_rate double, score double, verdict string"
)


def local_frame(spark, rows, schema):
    """Driver-held ``rows`` (tuples in ``schema`` order; ``schema`` a DDL
    string or a StructType) as an Arrow-backed local DataFrame. The
    table is built against the schema's own Arrow types, never inferred
    ones, so int32 ``partition_id`` and nullable int64 counts, null
    table-level partition ids included, keep their declared types. Its
    plan is a LocalTableScan, so a caller's collect or small write
    starts no scan job over a parallelized list."""
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    return spark.createDataFrame(
        pa.Table.from_arrays(
            [
                pa.array(col, type=field.type)
                for col, field in zip(columns, arrow_schema)
            ],
            schema=arrow_schema,
        )
    )


# Checkpoint manifest record — the engine's analog of the reference's
# ``logs`` tracking table (database_manager.py:21-32): snapshot hash =
# change detection (log_retriever.py:167-172), status = validated (an
# ``in_process`` lease from an older engine reads as pending), plus
# lineage + metrics per north_rule.
MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("snapshot_hash", T.StringType(), False),
        T.StructField("status", T.StringType(), False),  # validated (in_process: older engines)
        T.StructField("run_id", T.StringType(), True),
        T.StructField("validated_at", T.StringType(), True),   # injected, not wall-clock in tests
        T.StructField("n_rows", T.LongType(), True),
        T.StructField("n_violations", T.LongType(), True),
        T.StructField("verdict", T.StringType(), True),
        T.StructField("metrics_json", T.StringType(), True),   # per-partition metrics lineage
    ]
)

# Baseline snapshot for drift comparison (FIXTURES.md §3).
BASELINE_SNAPSHOT_SCHEMA = T.StructType(
    [
        T.StructField("column", T.StringType(), False),
        T.StructField("span_kind", T.StringType(), True),
        T.StructField("bucket", T.IntegerType(), True),
        T.StructField("count", T.LongType(), True),
        T.StructField("snapshot_ts", T.StringType(), True),
    ]
)
