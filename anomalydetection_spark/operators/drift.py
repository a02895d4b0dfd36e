"""Distribution-drift detection: PSI + KS against a baseline snapshot,
and an EMA+3-sigma rule over per-partition metric history.

This re-expresses the reference's score→threshold→verdict loop
(IsolationForest ``decision_function`` + fixed threshold,
/root/reference/model_manager.py:200-228, ensemble variant
ensemble_model.py:376-390) as declarative drift rules per the
north_rule: the *semantics* preserved are (a) a continuous score per
unit of data, (b) a fixed threshold splitting pass/fail with a stricter
global threshold than the per-partition one (drain3.ini:112 vs :98),
(c) every failing unit emitted with its score.

Scale design: drift never sees row-level data — only merged histograms
(bounded cardinality: kinds × bins) produced by stats.py in one
aggregation pass. The statistics themselves are metadata-scale math:
both histograms are collected to the driver and ONE kernel
(``histogram_drift``) computes PSI, histogram-KS (max CDF gap, error
bounded by bin width; exact small-data KS is cross-checked in tests),
JSD, chi-squared and the per-bucket PSI contributions in plain Python,
summing in ascending bucket order so every score is deterministic. The
DataFrame functions below are collect → kernel → ``schema.local_frame``
wrappers over it; the temporal rules further down stay JVM-side.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schema import VERDICTS_DDL, local_frame

EPS = 1e-6


def _order(v):
    """Spark's ascending sort key: NULL first."""
    return (v is not None, v)


def collect_histogram(
    hist: DataFrame, keys: list[str], bucket_col: str = "bucket"
) -> list[tuple]:
    """(key tuple, bucket, count) rows of a (keys..., bucket, count)
    histogram frame — the kernel's input."""
    n = len(keys)
    return [
        (tuple(r[:n]), r[n], r[n + 1])
        for r in hist.select(*keys, bucket_col, "count").collect()
    ]


def histogram_drift(current: list[tuple], baseline: list[tuple]) -> dict:
    """The drift family's ONE kernel over two collected histograms
    ((key tuple, bucket, count) rows). Returns, per key present on
    either side, ``{"psi", "ks", "jsd", "chi2", "dof", "buckets"}``
    where ``buckets`` lists (bucket, p_cur, p_base, psi_contrib) in
    ascending bucket order.

    Shares are p = count / group total; a bucket (or a whole key)
    absent on one side has share 0 there. PSI floors both shares at
    ε so one-sided buckets contribute finitely; KS is the max CDF gap
    over the bucket axis; JSD (natural log, range [0, ln 2]) needs no
    floor because the midpoint has mass wherever either side does;
    chi-squared is the two-sample homogeneity statistic on the raw
    counts (expected = side total × pooled share), dof = buckets − 1.
    Every sum runs in ascending bucket order, so the scores are
    identical however the histograms were partitioned."""
    groups: dict = {}
    for side, rows in ((0, current), (1, baseline)):
        for key, bucket, count in rows:
            cell = groups.setdefault(key, {}).setdefault(bucket, [0, 0])
            cell[side] += count
    out = {}
    for key in sorted(groups, key=lambda k: tuple(map(_order, k))):
        cells = groups[key]
        buckets = sorted(cells, key=_order)
        n_cur = sum(cells[b][0] for b in buckets)
        n_base = sum(cells[b][1] for b in buckets)
        n_all = n_cur + n_base
        psi = jsd = chi2 = ks = 0.0
        cdf_cur = cdf_base = 0.0
        shares = []
        for b in buckets:
            c_cur, c_base = cells[b]
            p = c_cur / n_cur if n_cur else 0.0
            q = c_base / n_base if n_base else 0.0
            pf, qf = max(p, EPS), max(q, EPS)
            contrib = (pf - qf) * math.log(pf / qf)
            psi += contrib
            shares.append((b, p, q, contrib))
            cdf_cur += p
            cdf_base += q
            ks = max(ks, abs(cdf_cur - cdf_base))
            m = (p + q) / 2
            kl_p = p * math.log(p / m) if p > 0 else 0.0
            kl_q = q * math.log(q / m) if q > 0 else 0.0
            jsd += (kl_p + kl_q) / 2
            pooled = (c_cur + c_base) / n_all if n_all else 0.0
            e_cur, e_base = n_cur * pooled, n_base * pooled
            d_cur, d_base = c_cur - e_cur, c_base - e_base
            chi2 += (d_cur * d_cur / e_cur if e_cur > 0 else 0.0) + (
                d_base * d_base / e_base if e_base > 0 else 0.0
            )
        out[key] = {
            "psi": psi, "ks": ks, "jsd": jsd, "chi2": chi2,
            "dof": len(buckets) - 1, "buckets": shares,
        }
    return out


def _drift_frame(
    current: DataFrame,
    baseline: DataFrame,
    keys: list[str],
    bucket_col: str,
    fields: list[T.StructField],
    row_fn,
) -> DataFrame:
    """Collect both histograms, run the kernel, and return the rows
    ``row_fn(stats)`` yields per key as a local DataFrame, key columns
    typed as in ``current``."""
    stats = histogram_drift(
        collect_histogram(current, keys, bucket_col),
        collect_histogram(baseline, keys, bucket_col),
    )
    schema = T.StructType(
        [T.StructField(k, current.schema[k].dataType) for k in keys] + fields
    )
    rows = [(*key, *vals) for key, st in stats.items() for vals in row_fn(st)]
    return local_frame(current.sparkSession, rows, schema)


def _stat_frame(current, baseline, keys, bucket_col, stat):
    return _drift_frame(
        current, baseline, keys, bucket_col,
        [T.StructField(stat, T.DoubleType())],
        lambda st: [(st[stat],)],
    )


def psi(
    current: DataFrame,
    baseline: DataFrame,
    keys: list[str],
    bucket_col: str = "bucket",
) -> DataFrame:
    """Population Stability Index per `keys` group.

    PSI = Σ_buckets (p - q) * ln(p/q), with ε-floored shares so buckets
    empty on one side contribute finitely. Inputs are histogram tables
    (keys..., bucket, count); output one row per group: (keys..., psi).
    """
    return _stat_frame(current, baseline, keys, bucket_col, "psi")


def ks_from_histograms(
    current: DataFrame,
    baseline: DataFrame,
    keys: list[str],
    bucket_col: str = "bucket",
) -> DataFrame:
    """Two-sample KS statistic from binned distributions: max |CDF gap|
    over the bucket axis. Approximation error ≤ one bin's mass; see
    tests for the exact cross-check."""
    return _stat_frame(current, baseline, keys, bucket_col, "ks")


def jsd_from_histograms(
    current: DataFrame,
    baseline: DataFrame,
    keys: list[str],
    bucket_col: str = "bucket",
) -> DataFrame:
    """Jensen-Shannon divergence per ``keys`` group (natural log, so
    the range is [0, ln 2]). JSD = ½·KL(p‖m) + ½·KL(q‖m) with
    m = (p+q)/2 — symmetric and bounded, unlike PSI (unbounded) and
    KL (asymmetric, undefined on one-sided buckets). One-sided buckets
    contribute finitely without ε-flooring because m > 0 whenever
    either side has mass; a side's zero-mass term is 0 by the
    0·ln(0) = 0 convention. Same bounded histogram inputs as the rest
    of the drift family."""
    return _stat_frame(current, baseline, keys, bucket_col, "jsd")


def psi_explain(
    current: DataFrame,
    baseline: DataFrame,
    keys: list[str],
    bucket_col: str = "bucket",
    k: int = 3,
) -> DataFrame:
    """Why did PSI fail: the top-k buckets per group by absolute PSI
    contribution, with both sides' shares — the interpretability
    surface for a drift verdict (the reference shows raw anomaly rows;
    this shows which part of the distribution moved). Output:
    (keys..., bucket, p_cur, p_base, psi_contrib, rank); ties on
    |contribution| rank the lower bucket first. Bounded:
    k × |groups| rows."""

    def top_k(st):
        # stable sort over the ascending-bucket list = bucket tiebreak
        ranked = sorted(st["buckets"], key=lambda s: -abs(s[3]))[:k]
        return [(*s, rank) for rank, s in enumerate(ranked, 1)]

    return _drift_frame(
        current, baseline, keys, bucket_col,
        [
            T.StructField(bucket_col, current.schema[bucket_col].dataType),
            T.StructField("p_cur", T.DoubleType()),
            T.StructField("p_base", T.DoubleType()),
            T.StructField("psi_contrib", T.DoubleType()),
            T.StructField("rank", T.IntegerType()),
        ],
        top_k,
    )


def chi2_from_histograms(
    current: DataFrame,
    baseline: DataFrame,
    keys: list[str],
    bucket_col: str = "bucket",
) -> DataFrame:
    """Two-sample chi-squared homogeneity statistic per ``keys`` group.

    Unlike PSI/KS this works on raw COUNT histograms, not shares: under
    H0 both samples draw from one pooled distribution, so each side's
    expected count in a bucket is its sample size times the pooled
    bucket share. chi2 = Σ_sides Σ_buckets (O − E)² / E; dof = (buckets
    with any mass) − 1. Complements PSI (which ε-floors empty buckets
    and is sample-size-free) with the classical statistic whose null
    distribution is known — a fixed chi2 threshold maps to a p-value.

    Inputs are bounded histogram frames (keys × bins rows) from
    stats.py, so like the other drift rules this never touches
    row-level data and costs nothing extra at 10^12-doc scale.
    """
    return _drift_frame(
        current, baseline, keys, bucket_col,
        [
            T.StructField("chi2", T.DoubleType()),
            T.StructField("dof", T.IntegerType()),
        ],
        lambda st: [(st["chi2"], st["dof"])],
    )


def drift_verdict_rows(
    current: list[tuple],
    baseline: list[tuple],
    keys: list[str],
    psi_threshold: float,
    ks_threshold: float,
    check_prefix: str = "drift",
    chi2_threshold: float | None = None,
    jsd_threshold: float | None = None,
) -> list[tuple]:
    """``drift_verdicts`` over collected histograms
    (``collect_histogram`` rows): VERDICTS_DDL-shaped tuples, one per
    metric per group."""
    metrics = [("psi", psi_threshold), ("ks", ks_threshold)]
    if chi2_threshold is not None:
        metrics.append(("chi2", chi2_threshold))
    if jsd_threshold is not None:
        metrics.append(("jsd", jsd_threshold))
    by_pid = bool(keys) and keys[0] == "partition_id"
    stats = histogram_drift(current, baseline)
    rows = []
    for metric, thresh in metrics:
        for key, st in stats.items():
            name = [check_prefix, metric] + [
                str(v)
                for c, v in zip(keys, key)
                if c != "partition_id" and v is not None
            ]
            score = st[metric]
            rows.append((
                "_".join(name),
                int(key[0]) if by_pid and key[0] is not None else None,
                None, None, None,
                score,
                "fail" if score > thresh else "pass",
            ))
    return rows


def drift_verdicts(
    current_hist: DataFrame,
    baseline_hist: DataFrame,
    keys: list[str],
    psi_threshold: float,
    ks_threshold: float,
    check_prefix: str = "drift",
    chi2_threshold: float | None = None,
    jsd_threshold: float | None = None,
) -> DataFrame:
    """PSI + KS verdict rows per group (VERDICTS_SCHEMA shape; the
    group's first key is surfaced as partition_id when integer-like),
    plus optional chi-squared and Jensen-Shannon rows when their
    thresholds are given — all four statistics derive from the SAME
    bounded histogram pair in one kernel pass, never another table
    scan."""
    return local_frame(
        current_hist.sparkSession,
        drift_verdict_rows(
            collect_histogram(current_hist, keys),
            collect_histogram(baseline_hist, keys),
            keys,
            psi_threshold,
            ks_threshold,
            check_prefix,
            chi2_threshold,
            jsd_threshold,
        ),
        VERDICTS_DDL,
    )


def ema_3sigma(
    history: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
    alpha: float = 0.3,
    sigma_k: float = 3.0,
    min_history: int = 5,
    window_size: int = 20,
) -> DataFrame:
    """EMA + 3σ anomaly rule over a metric time-series per key.

    The reference's running-score thresholding (model_manager.py:200-228
    with the global min/max carried across batches :213-215) becomes:
    for each key's ordered history, flag points where
    |value - EMA(previous values)| > sigma_k * stddev(previous window).

    EMA is computed JVM-side with the ``aggregate`` higher-order
    function over the ordered prefix (no Python, no recursion): for each
    row, fold its trailing ``window_size`` predecessors.
    """
    w_hist = (
        Window.partitionBy(*key_cols)
        .orderBy(order_col)
        .rowsBetween(-window_size, -1)
    )
    with_stats = (
        history.withColumn("_prev", F.collect_list(value_col).over(w_hist))
        .withColumn("_mu", F.avg(value_col).over(w_hist))
        .withColumn("_sd", F.stddev_samp(value_col).over(w_hist))
        .withColumn("_n_prev", F.size("_prev"))
    )
    # EMA over the ordered prefix list: fold s -> alpha*x + (1-alpha)*s
    ema_expr = F.when(F.col("_n_prev") == 0, F.col(value_col)).otherwise(
        F.expr(
            f"aggregate(_prev, cast(_prev[0] as double),"
            f" (s, x) -> {alpha} * x + {1 - alpha} * s)"
        )
    )
    return (
        with_stats.withColumn("ema", ema_expr)
        .withColumn(
            "zscore",
            F.when(
                F.col("_sd").isNull() | (F.col("_sd") < EPS),
                # degenerate variance must not invert the verdict: a
                # REAL deviation after a perfectly stable history is
                # the clearest possible anomaly (unbounded sigma), not
                # a zscore of 0 — only a genuinely unchanged value
                # scores 0 here
                F.when(
                    F.abs(F.col(value_col) - F.col("ema")) > EPS,
                    F.lit(float("inf")),
                ).otherwise(F.lit(0.0)),
            ).otherwise(F.abs(F.col(value_col) - F.col("ema")) / F.col("_sd")),
        )
        .withColumn(
            "is_anomaly",
            (F.col("_n_prev") >= min_history) & (F.col("zscore") > sigma_k),
        )
        .drop("_prev", "_mu", "_n_prev")
        .withColumnRenamed("_sd", "trailing_sd")
    )


def fresh_validated(hist: DataFrame) -> DataFrame:
    """FRESH observations in a manifest history (``Manifest.history_df``
    shape): rows with status 'validated' whose record CONTENT differs
    from the same partition's record at the previous version. Versions
    are full snapshots, so stats commits (and validation runs
    that skipped unchanged partitions) copy records forward verbatim —
    feeding those copies into a metric series would satisfy min_history
    with duplicates of one real observation and collapse the trailing
    stddev exactly when a later genuine jump needs catching.

    Content comparison (not the ``record_run_id == run_id`` heuristic)
    because a carry-forward commit made under the SAME run id that
    validated — e.g. a run that validates and then stamps stats — would
    otherwise still count as fresh."""
    w = Window.partitionBy("partition_id").orderBy("version")
    cur = F.struct(
        "status", "record_run_id", "validated_at", "n_rows",
        "n_violations", "verdict",
    )
    return (
        hist.withColumn("_prev_rec", F.lag(cur).over(w))
        .filter(
            (F.col("status") == "validated")
            & ~F.col("_prev_rec").eqNullSafe(cur)
        )
        .drop("_prev_rec")
    )


def manifest_history_drift(
    spark,
    manifest,
    alpha: float = 0.3,
    sigma_k: float = 3.0,
    min_history: int = 5,
) -> DataFrame:
    """Temporal drift on the engine's OWN metrics: each partition's
    violation-rate series across manifest versions, EMA+3σ flagged —
    "this partition's violation rate jumped against its own history",
    the reference's running-score anomaly rule
    (/root/reference/model_manager.py:200-228) applied to validation
    telemetry instead of log lines. Input is the manifest history
    (versions × partitions rows — metadata scale), so this runs in
    milliseconds regardless of table size."""
    hist = (
        # FRESH observations only — see fresh_validated: carry-forward
        # copies would collapse the trailing stddev and mask real jumps
        fresh_validated(manifest.history_df(spark))
        .filter(F.col("n_rows").isNotNull() & (F.col("n_rows") > 0))
        .withColumn(
            "violation_rate",
            F.col("n_violations").cast("double") / F.col("n_rows"),
        )
    )
    return ema_3sigma(
        hist,
        key_cols=["partition_id"],
        order_col="version",
        value_col="violation_rate",
        alpha=alpha,
        sigma_k=sigma_k,
        min_history=min_history,
    ).select(
        "partition_id",
        "version",
        "run_id",
        "violation_rate",
        "ema",
        "trailing_sd",
        "zscore",
        "is_anomaly",
    )


def verdict_regressions(
    spark,
    manifest,
    v_old: int | None = None,
    v_new: int | None = None,
) -> DataFrame:
    """Per-partition verdict diff between two manifest versions
    (default: previous vs latest) — the question an on-call asks first
    when a round fails: WHICH partitions regressed, which recovered,
    which appeared/vanished, and how the violation counts moved.

    Output (changed partitions only): partition_id, change ∈
    {regression, recovery, new_partition, missing_partition},
    old/new verdicts and violation counts, delta_violations. Metadata
    scale: versions are full snapshots, so this is a join of two
    partition-count-sized frames regardless of table size.

    Defaults compare the two latest versions with FRESH verdicts —
    versions where some record was actually (re)validated by that
    version's own run. Stats commits advance the manifest
    version while carrying every verdict-bearing record forward
    verbatim; naively taking 'latest version with verdicts' would
    diff a carry-forward copy against its source and report an empty
    regression set. Raises ValueError when fewer than two such
    versions exist (or explicit versions are inconsistent)."""
    cur = manifest.current_version()
    h = manifest.history_df(spark).filter(F.col("verdict").isNotNull())
    if v_new is None or v_old is None:
        fresh = h.filter(
            (F.col("status") == "validated")
            & (F.col("record_run_id") == F.col("run_id"))
        )
        vs = sorted(
            r.version for r in fresh.select("version").distinct().collect()
        )
        if v_new is None:
            if not vs:
                raise ValueError(
                    "verdict_regressions: no verdict-bearing versions"
                )
            v_new = vs[-1]
        if v_old is None:
            older = [v for v in vs if v < v_new]
            if not older:
                raise ValueError(
                    "verdict_regressions: need two verdict-bearing "
                    f"versions, have {vs}"
                )
            v_old = older[-1]
    if v_old < 1 or v_new > cur or v_old >= v_new:
        raise ValueError(
            f"verdict_regressions: need 1 <= v_old < v_new <= {cur}, "
            f"got ({v_old}, {v_new})"
        )
    a = h.filter(F.col("version") == v_old).select(
        "partition_id",
        F.col("verdict").alias("old_verdict"),
        F.col("n_violations").alias("old_violations"),
    )
    b = h.filter(F.col("version") == v_new).select(
        "partition_id",
        F.col("verdict").alias("new_verdict"),
        F.col("n_violations").alias("new_violations"),
    )
    j = a.join(b, "partition_id", "full_outer")
    change = (
        F.when(F.col("old_verdict").isNull(), "new_partition")
        .when(F.col("new_verdict").isNull(), "missing_partition")
        .when(
            (F.col("old_verdict") == "pass")
            & (F.col("new_verdict") == "fail"),
            "regression",
        )
        .when(
            (F.col("old_verdict") == "fail")
            & (F.col("new_verdict") == "pass"),
            "recovery",
        )
        .otherwise("unchanged")
    )
    return (
        j.withColumn("change", change)
        .filter(F.col("change") != "unchanged")
        .withColumn(
            "delta_violations",
            F.coalesce("new_violations", F.lit(0))
            - F.coalesce("old_violations", F.lit(0)),
        )
        .select(
            "partition_id", "change", "old_verdict", "new_verdict",
            "old_violations", "new_violations", "delta_violations",
        )
    )


def cusum_changepoints(
    df: DataFrame,
    group_cols: list[str],
    ts_col: str,
    value_col: str,
    k_sigmas: float = 0.5,
    h_sigmas: float = 5.0,
) -> DataFrame:
    """Two-sided CUSUM changepoint detection over a per-group ordered
    metric series (Page 1954) — the sequential complement of the
    EMA+3σ point-anomaly rule: a small sustained level shift that
    never trips 3σ on any single observation accumulates in the CUSUM
    statistic and fires within a few observations of the shift.

    The textbook statistic is a recursion
    (``S+_n = max(0, S+_{n-1} + x_n - mu - k)``), which a naive
    implementation evaluates with a per-row Python loop. It has an
    exact closed form over prefix sums::

        C_n  = sum_{i<=n} (x_i - mu - k)
        S+_n = C_n - min(0, min_{j<=n} C_j)

    (and symmetrically for the downward side), so the whole detector
    is TWO cumulative-window passes over the same partitioning — no
    recursion, no UDF, no driver loop. Cost: one hash exchange on
    ``group_cols`` + per-group sort; every series row stays on one
    partition (series length per group is bounded — time buckets, not
    data rows — the same shape as ema_3sigma above).

    mu/sigma are calibrated per group from the full series (whole-
    group window over the SAME partitioning — no second exchange);
    ``k = k_sigmas*sigma`` is the drift allowance, ``h = h_sigmas*
    sigma`` the decision threshold (classic k=0.5σ/h=5σ ARL tuning).
    Degenerate groups (sigma≈0 or a single row) never flag.

    Returns one row per input row: group cols, ts, value, cusum_pos,
    cusum_neg, is_shift (either side over h) and direction ('up' /
    'down' / NULL).
    """
    wg = Window.partitionBy(*group_cols)
    wo = (
        Window.partitionBy(*group_cols)
        .orderBy(ts_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    x = F.col(value_col).cast("double")
    d = (
        df.withColumn("_mu", F.avg(x).over(wg))
        .withColumn("_sd", F.coalesce(F.stddev_samp(x).over(wg), F.lit(0.0)))
        .withColumn("_k", F.lit(float(k_sigmas)) * F.col("_sd"))
        .withColumn("_h", F.lit(float(h_sigmas)) * F.col("_sd"))
        # prefix sums of the drift-adjusted deviations, both sides
        .withColumn("_c_pos", F.sum(x - F.col("_mu") - F.col("_k")).over(wo))
        .withColumn("_c_neg", F.sum(x - F.col("_mu") + F.col("_k")).over(wo))
        .withColumn(
            "cusum_pos",
            F.col("_c_pos") - F.least(F.lit(0.0), F.min("_c_pos").over(wo)),
        )
        .withColumn(
            "cusum_neg",
            F.greatest(F.lit(0.0), F.max("_c_neg").over(wo)) - F.col("_c_neg"),
        )
    )
    fires_up = (F.col("_sd") > 1e-12) & (F.col("cusum_pos") > F.col("_h"))
    fires_dn = (F.col("_sd") > 1e-12) & (F.col("cusum_neg") > F.col("_h"))
    return d.withColumn("is_shift", fires_up | fires_dn).withColumn(
        "direction",
        F.when(fires_up & fires_dn, F.lit("both"))
        .when(fires_up, F.lit("up"))
        .when(fires_dn, F.lit("down")),
    ).drop("_mu", "_sd", "_k", "_h", "_c_pos", "_c_neg")


def holt_residual_anomaly(
    history: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
    alpha: float = 0.4,
    beta: float = 0.3,
    sigma_k: float = 3.0,
    min_history: int = 8,
    window_size: int = 24,
) -> DataFrame:
    """Holt linear-trend (double exponential smoothing) forecast
    residual anomaly per key — the trend-aware upgrade of
    ``ema_3sigma``: a steadily growing series is NOT anomalous under
    Holt (the trend term absorbs the slope), while plain EMA lags a
    ramp and can flag every point of it.

    For each row, fold the trailing ``window_size`` predecessors
    (exclusive) through the Holt recurrence, seeded at
    ``(level=x0, trend=0)``:

        level' = alpha*x + (1-alpha)*(level + trend)
        trend' = beta*(level' - level) + (1-beta)*trend

    one-step forecast = level + trend of the final state; flag points
    where |value - forecast| exceeds ``sigma_k`` trailing stddevs
    (same degenerate-variance handling as ``ema_3sigma``: a real
    deviation after a perfectly flat history is infinitely surprising,
    an unchanged value is not).

    Plan shape: ONE window (collect_list + stddev over the same frame)
    then a row-local ``aggregate`` HOF with a struct accumulator —
    JVM-side, no UDF, no self-join; shuffle = one hash exchange on the
    keys. The fold visits <= window_size elements per row, a constant.
    Re-expresses the reference's running-score thresholding
    (model_manager.py:200-228) like ema_3sigma but with the
    level+trend state the reference's EMA lacks.
    """
    w_hist = (
        Window.partitionBy(*key_cols)
        .orderBy(order_col)
        .rowsBetween(-window_size, -1)
    )
    lvl = f"{alpha} * x + {1 - alpha} * (s.l + s.b)"
    # get() (not _prev[0]) so the empty first-row window yields a NULL
    # seed instead of an ANSI array-index error; the n_prev == 0 branch
    # below overrides the forecast for that row anyway
    fold = (
        f"aggregate(slice(_prev, 2, greatest(0, size(_prev) - 1)),"
        f" named_struct('l', cast(get(_prev, 0) as double), 'b', cast(0.0 as double)),"
        f" (s, x) -> named_struct("
        f"   'l', {lvl},"
        f"   'b', {beta} * (({lvl}) - s.l) + {1 - beta} * s.b))"
    )
    d = (
        history.withColumn("_prev", F.collect_list(value_col).over(w_hist))
        .withColumn("_sd", F.stddev_samp(value_col).over(w_hist))
        .withColumn("_n_prev", F.size("_prev"))
        .withColumn("_st", F.expr(fold))
        .withColumn(
            "forecast",
            F.when(F.col("_n_prev") == 0, F.col(value_col).cast("double"))
            .otherwise(F.col("_st.l") + F.col("_st.b")),
        )
        .withColumn("residual", F.col(value_col) - F.col("forecast"))
    )
    zscore = F.when(
        F.col("_sd").isNull() | (F.col("_sd") < EPS),
        F.when(F.abs("residual") > EPS, F.lit(float("inf"))).otherwise(
            F.lit(0.0)
        ),
    ).otherwise(F.abs("residual") / F.col("_sd"))
    return (
        d.withColumn("zscore", zscore)
        .withColumn(
            "is_anomaly",
            (F.col("_n_prev") >= min_history) & (F.col("zscore") > sigma_k),
        )
        .drop("_prev", "_st", "_n_prev")
        .withColumnRenamed("_sd", "trailing_sd")
    )


def delta_attribution(
    df: DataFrame,
    period_expr,
    dims: list[str],
    measure_col: str,
) -> DataFrame:
    """Segment-level attribution of a metric change between two
    periods — the drill-down that answers the question a fired drift
    verdict raises: WHICH segment moved the metric. ``period_expr``
    is a boolean column/SQL string (true = current period, false =
    baseline); for every declared dimension, each segment reports its
    baseline/current totals, absolute delta, share of the dimension's
    total delta, and a deterministic rank by |delta|.

    All dimensions stack into ONE (dim, value, is_cur, measure)
    relation -> one map-side-combinable agg -> a window over the
    bounded (dim x segments) result: attribution over N dimensions
    costs one pass over the fact table, not N. share_of_delta is NULL
    when the dimension's total delta is 0 (nothing to attribute — a
    0/0, not a 0%)."""
    pe = F.expr(period_expr) if isinstance(period_expr, str) else period_expr
    stacked = None
    for d in dims:
        rows = df.select(
            F.lit(d).alias("dim"),
            F.col(d).cast("string").alias("segment"),
            pe.cast("boolean").alias("_cur"),
            F.col(measure_col).cast("double").alias("_m"),
        )
        stacked = rows if stacked is None else stacked.unionByName(rows)
    g = stacked.groupBy("dim", "segment").agg(
        F.sum(F.when(~F.col("_cur"), F.col("_m")).otherwise(0.0)).alias(
            "base_total"
        ),
        F.sum(F.when(F.col("_cur"), F.col("_m")).otherwise(0.0)).alias(
            "cur_total"
        ),
    )
    w = Window.partitionBy("dim")
    wr = Window.partitionBy("dim").orderBy(
        F.abs(F.col("delta")).desc(), F.col("segment")
    )
    return (
        g.withColumn("delta", F.col("cur_total") - F.col("base_total"))
        .withColumn("_total_delta", F.sum("delta").over(w))
        .withColumn(
            "share_of_delta",
            F.when(
                F.abs("_total_delta") > 1e-12,
                F.col("delta") / F.col("_total_delta"),
            ),
        )
        .withColumn("rank", F.row_number().over(wr))
        .drop("_total_delta")
    )


def acf_lags(
    series: DataFrame,
    index_col: str,
    value_col: str,
    max_lag: int = 48,
) -> DataFrame:
    """Autocorrelation function of a regularly-indexed series at lags
    1..max_lag — the periodicity detector behind seasonal baselines:
    a dominant peak at lag 24 on an hourly series says "daily cycle",
    telling seasonal_anomaly/windowed drift WHICH period to
    deseasonalize by instead of assuming one.

    ``index_col`` must be an integer position (e.g. epoch-hours);
    missing positions simply contribute no pair at the lags they
    would span — ACF over a gapped series, same convention as
    gap-tolerant trend_slopes. Plan: the series (already aggregated,
    bounded buckets) explodes into max_lag shifted copies and
    re-joins itself on the index — ONE equi-join shuffling
    max_lag x |buckets| rows, then corr() per lag; no windows, no
    driver loops, no per-lag passes."""
    s = series.select(
        F.col(index_col).cast("long").alias("i"),
        F.col(value_col).cast("double").alias("x"),
    )
    shifted = s.select(
        F.explode(F.expr(f"sequence(1, {max_lag})")).alias("lag"),
        (F.col("i")).alias("i0"),
        F.col("x").alias("x_lag"),
    ).select("lag", (F.col("i0") + F.col("lag")).alias("i"), "x_lag")
    pairs = s.join(shifted, "i")
    # Pearson r from moment sums, variance-GUARDED: built-in corr()
    # raises DIVIDE_BY_ZERO under ANSI mode when either side of a lag
    # is constant (a perfectly uniform series — the boundary corpus's
    # 4-events-per-hour fixture — crashed the whole query); NULL acf is
    # the honest answer there, matching DuckDB's corr(). For
    # integer-valued series the sums are exact in double regardless of
    # fold order, so the division runs on bit-identical operands in
    # both engines.
    n = F.col("n_pairs").cast("double")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        F.greatest(
            (n * F.col("sxx") - F.col("sx") * F.col("sx"))
            * (n * F.col("syy") - F.col("sy") * F.col("sy")),
            F.lit(0.0),
        )
    )
    return (
        pairs.groupBy("lag")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum("x").alias("sx"),
            F.sum("x_lag").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("x_lag") * F.col("x_lag")).alias("syy"),
            F.sum(F.col("x") * F.col("x_lag")).alias("sxy"),
        )
        .withColumn("acf", F.when(den > 0, num / den))
        .drop("sx", "sy", "sxx", "syy", "sxy")
        .withColumn(
            # rank on 4dp-rounded acf — the same quantized value the
            # catalog emits (checker precision): corr() is an
            # order-dependent streaming covariance, so cross-engine
            # ulp drift must never decide a rank; at 4dp near-ties
            # collapse and break on the lag deterministically
            "rank",
            F.row_number().over(
                Window.orderBy(F.desc(F.round("acf", 4)), F.asc("lag"))
            ),
        )
    )
