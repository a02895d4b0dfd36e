"""Metric-history anomaly detection: the reference's EMA + 3-sigma
running-score rule (model_manager.py:200-228) applied to the validation
engine's OWN metrics across manifest versions — the Deequ
metric-repository anomaly-check shape. A run that suddenly finds 10×
the violation rate, or a table whose row count collapses between runs,
is itself an anomaly worth flagging even when every per-run gate still
passes (each run judges only its own snapshot; the time axis is
invisible to it).

Relation to :func:`..operators.drift.manifest_history_drift`: that is
the single-metric per-partition violation-rate rule. This module
generalizes it to a LONG-FORM multi-metric series — table-level totals
(total_rows / total_violations / violation_rate /
n_failed_partitions) or per-partition triples — judged by one keyed
fold, and exposes it as the ``--metric-anomaly`` CLI. Both build on
``Manifest.history_df`` and share the :func:`..operators.drift.
fresh_validated` freshness rule: only records whose content changed
vs the previous version are fresh observations; stats-stamp commits
and resume-skipped partitions carry records forward verbatim and must
not inject duplicate points (they would satisfy min_history with
copies of one real observation and collapse the trailing stddev
exactly when a later genuine jump needs catching).

Scale shape: the manifest is metadata (versions × partitions of JSON),
so history extraction never scans data. The anomaly rule reuses
:func:`..operators.drift.ema_3sigma` (aggregate-HOF fold over the
ordered prefix, JVM-side), keyed per metric (table scope) or per
(metric, partition) (partition scope). At the 10^12-doc design point
the series is |versions| × |metrics| × |partitions| rows — millions at
most, and only because of the partition axis; the EMA windowing
shuffles that metadata, not data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.manifest import Manifest
from .drift import ema_3sigma, fresh_validated

#: table-scope metrics derived from each fresh validation state
TABLE_METRICS = (
    "total_rows",
    "total_violations",
    "violation_rate",
    "n_failed_partitions",
)


def manifest_metric_history(
    spark: SparkSession, manifest_dir: str, scope: str = "table"
) -> DataFrame:
    """Long-form metric time-series from a validation manifest: one row
    per (version, metric[, partition_id]), columns (version, run_id,
    partition_id, metric, value).

    ``scope='table'``: per-version aggregates over the WHOLE validated
    state — the table-health series. Carried-forward partitions are
    included on purpose (the series tracks "the table as of this
    version"), but versions with no fresh observation at all (older
    engines' lease commits, ``stamp_stats``) contribute no
    point: their totals are byte-identical to the previous point and
    would damp the EMA.

    ``scope='partition'``: per-partition n_rows / n_violations /
    violation_rate series over FRESH observations only (the
    ``manifest_history_drift`` freshness rule) — catches a single
    partition degrading while table totals stay calm.
    """
    if scope not in ("table", "partition"):
        raise ValueError(f"scope must be 'table' or 'partition': {scope}")
    hist = Manifest(manifest_dir).history_df(spark)
    validated = hist.filter(F.col("status") == "validated")
    fresh = fresh_validated(hist)
    if scope == "partition":
        base = fresh.filter(
            F.col("n_rows").isNotNull() & (F.col("n_rows") > 0)
        ).select(
            "version",
            "run_id",
            "partition_id",
            F.col("n_rows").cast("double").alias("n_rows"),
            F.coalesce(F.col("n_violations").cast("double"), F.lit(0.0))
            .alias("n_violations"),
        )
        return base.select(
            "version",
            "run_id",
            "partition_id",
            F.expr(
                "stack(3, 'n_rows', n_rows, 'n_violations', n_violations,"
                " 'violation_rate', n_violations / n_rows)"
            ).alias("metric", "value"),
        )
    fresh_versions = fresh.select("version").distinct()
    totals = (
        validated.join(fresh_versions, "version")
        .groupBy("version", "run_id")
        .agg(
            F.sum(F.coalesce(F.col("n_rows"), F.lit(0)))
            .cast("double")
            .alias("total_rows"),
            F.sum(F.coalesce(F.col("n_violations"), F.lit(0)))
            .cast("double")
            .alias("total_violations"),
            F.sum(F.when(F.col("verdict") == "fail", 1).otherwise(0))
            .cast("double")
            .alias("n_failed_partitions"),
        )
    )
    return totals.select(
        "version",
        "run_id",
        F.lit(None).cast("int").alias("partition_id"),
        F.expr(
            "stack(4, 'total_rows', total_rows,"
            " 'total_violations', total_violations,"
            " 'violation_rate', CASE WHEN total_rows > 0"
            " THEN total_violations / total_rows ELSE 0.0 END,"
            " 'n_failed_partitions', n_failed_partitions)"
        ).alias("metric", "value"),
    )


def metric_history_anomaly(
    history: DataFrame,
    alpha: float = 0.3,
    sigma_k: float = 3.0,
    min_history: int = 3,
    window_size: int = 20,
    keyed_by_partition: bool = False,
) -> DataFrame:
    """EMA+3σ verdicts over a long-form metric history (anything with
    version/run_id/metric/value [+ partition_id]). Pure re-keying of
    :func:`ema_3sigma`: each metric (optionally per partition) is an
    independent series ordered by version. ``min_history`` defaults
    lower than the event-series rule (3 vs 5) — validation runs are
    sparse compared to hourly buckets, and waiting five runs to arm
    the rule would leave most real manifests unguarded."""
    keys = ["metric"] + (["partition_id"] if keyed_by_partition else [])
    out = ema_3sigma(
        history,
        keys,
        "version",
        "value",
        alpha=alpha,
        sigma_k=sigma_k,
        min_history=min_history,
        window_size=window_size,
    )
    lead = ["version", "run_id"] + (
        ["partition_id"] if keyed_by_partition else []
    )
    return out.select(
        *lead,
        "metric",
        "value",
        F.round("ema", 6).alias("ema"),
        F.round("zscore", 6).alias("zscore"),
        "is_anomaly",
    )


def metric_run_anomaly(
    spark: SparkSession,
    manifest_dir: str,
    alpha: float = 0.3,
    sigma_k: float = 3.0,
    min_history: int = 3,
    window_size: int = 20,
    scope: str = "table",
) -> DataFrame:
    """History extraction + anomaly rule in one call — the CLI surface.
    Returns every (version, metric) point with its EMA, z-score, and
    verdict; callers filter ``is_anomaly`` for the alert set."""
    hist = manifest_metric_history(spark, manifest_dir, scope=scope)
    return metric_history_anomaly(
        hist,
        alpha=alpha,
        sigma_k=sigma_k,
        min_history=min_history,
        window_size=window_size,
        keyed_by_partition=(scope == "partition"),
    )
