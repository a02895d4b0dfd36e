"""End-to-end validation pipeline: the engine's analog of the
reference's per-file poll loop (/root/reference/main.py:136-275) →
ensemble pass (:277-357), restructured for Spark:

  manifest anti-join (partition discovery, S5)        — driver + 1 agg
  → ``validate_scope``, the validation core the batch pass and every
    stream micro-batch share:
    small check inputs (dup keys, the referential key set) — narrow
      column scans
    → ONE wide scan emitting every violation row (conformance flags and
      the referential membership UDF are row-local; uniqueness attaches
      via a broadcast join)
    → ONE collect of the per-partition violation count grid (no re-scan
      of the table)
  → verdict rows, table-level rollup, drift scores and manifest records
    computed on the driver from that grid, the snapshot rows and both
    length histograms — all metadata scale (partitions × checks counts,
    kinds × bins buckets) — and materialized as ONE Arrow-backed local
    frame (``schema.local_frame``)
  → atomic manifest commit (lineage + metrics)

Scan budget per pass (the thing that matters at 100 TB): one snapshot
hash pass, one key-column pass (uniqueness), one full-width violations
pass, one text-length pass (drift input). Beyond the catalog broadcast
cap the referential check adds one refs pass: the scope's distinct refs
against a semi-join scan of the catalog's key column, or — only when
the scope's distinct refs also exceed the cap — the salted
exploded-refs anti-join. Everything downstream — verdicts, rollups,
drift — is driver-side math over bounded-size collected intermediates,
so the verdict tier starts no Spark job beyond the grid collect and the
baseline read.

Resume semantics: a pass writes one manifest version (none when nothing
is pending). A crash before the manifest commit leaves CURRENT pointing
at the previous version; the next run's pending set is unchanged and it
stages the same violations again under its own run_id (idempotent,
keyed on snapshot hash — S2/S5, database_manager.py:84-103). The dead
run's ``_staged_<run_id>`` directory is left behind.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, ValidationConfig
from ..operators import drift as drift_ops
from ..operators import stats as stats_ops
from ..operators.referential import (
    BROADCAST_MAX_CATALOG_ROWS,
    ReferentialCheck,
    span_refs_column,
)
from ..operators.stats import CONF_CHECKS
from ..operators.uniqueness import duplicate_keys
from ..operators.verdict import rollup_rows
from ..schema import VERDICTS_DDL, local_frame
from ..sources.manifest import Manifest, partition_snapshots


def check_gates(cfg) -> dict:
    """check name → configured rate gate — shared by the full pass's
    verdicts (verdict_rows) and the sampled pre-flight, so the
    two can never gate the same check differently."""
    return {
        "uniqueness": cfg.max_dup_rate,
        "referential": cfg.max_orphan_rate,
        "null_spans": cfg.max_null_rate,
        "empty_spans": cfg.max_null_rate,
        "offset_monotonicity": cfg.max_type_error_rate,
        "null_span_kind": cfg.max_type_error_rate,
        "span_coherence": cfg.max_type_error_rate,
    }


@dataclass
class ValidationResult:
    verdicts: DataFrame          # per-partition + table-level rows
    violations: DataFrame        # exact violation rows (all checks)
    validated_partitions: list[int]
    manifest_version: int
    # True when the violations are exemplar-capped (K rows per check x
    # partition): verdict counts are exact but the violation ROWS are a
    # subset — consumers needing the full set (quarantine, feedback
    # review) must check this
    capped: bool = False
    # the pass's own (kind x bucket) length histogram as a local
    # DataFrame when a drift baseline was supplied — callers can
    # persist it as the NEXT baseline without re-scanning the table
    current_hist: DataFrame | None = None


BROADCAST_MAX_ROWS = 100_000


def _all_violations(
    scope: DataFrame,
    dups: DataFrame,
    orphan_doc: DataFrame | None,
    broadcast_orphans: bool = True,
    orphan_udf=None,
    broadcast_dups: bool = True,
    unique_key="doc_id",
) -> DataFrame:
    """One wide scan → every violation row (VIOLATIONS_SCHEMA shape).

    Conformance flags are row-local expressions; uniqueness attaches
    via a broadcast join on the (tiny) dup-key set. Referential comes
    in two shapes, chosen by ``ReferentialCheck.udf_for``:

    * ``orphan_udf`` (a broadcastable catalog, or the catalog keys a
      scope with few enough distinct refs names — the common case): a
      vectorized membership check over each row's projected refs array
      (operators/referential.py::orphan_refs_rowlocal_udf). Row-local →
      the wide scan never shuffles and needs no exploded-refs pre-scan.
      The earlier join-based shape shuffled the ENTIRE wide scope
      (spans included) through a sort-merge join against the per-doc
      orphan aggregate — the dominant non-scaling cost of the pass at
      16M docs (~13 s of a 29 s stage at local[8]).
    * ``orphan_doc`` join (catalog and scope refs too large to
      broadcast): per-doc
      orphan aggregate from the salted anti-join pre-scan, attached by
      join — broadcast only while that side is genuinely small
      (``broadcast_orphans``).

    Each violating doc emits one row per failed check, spans verbatim."""
    conf_detail = stats_ops.conformance_detail()
    dups_b = F.broadcast(dups) if broadcast_dups else dups
    # attach on the CONFIGURED uniqueness key — duplicate_keys returns
    # (key..., dup_cnt), so the join columns must mirror cfg.unique_key
    # (a composite key joins on every part)
    key_cols = (
        [unique_key] if isinstance(unique_key, str) else list(unique_key)
    )
    flagged = scope.join(dups_b, key_cols, "left")
    if orphan_udf is not None:
        # one ArrowEvalPython stage; the empty→null rewrite happens on
        # the column ref so the UDF runs once per row
        flagged = (
            flagged.withColumn("_oarr", orphan_udf(span_refs_column()))
            .withColumn(
                "orphan_refs",
                F.when(F.size("_oarr") > 0, F.col("_oarr")),
            )
            .withColumn(
                "n_orphans",
                F.when(
                    F.col("orphan_refs").isNotNull(),
                    F.size("orphan_refs").cast("long"),
                ),
            )
            .drop("_oarr")
        )
    elif orphan_doc is not None:
        od = F.broadcast(orphan_doc) if broadcast_orphans else orphan_doc
        flagged = (
            flagged.withColumn("row_fp", F.xxhash64("spans"))
            .join(od, ["doc_id", "partition_id", "row_fp"], "left")
            .drop("row_fp")
        )
    else:
        flagged = flagged.withColumn(
            "n_orphans", F.lit(None).cast("long")
        ).withColumn("orphan_refs", F.lit(None).cast("array<string>"))

    check_struct = "struct<check:string,detail:string,score:double>"
    checks_arr = F.array(
        F.when(
            F.col("dup_cnt").isNotNull(),
            F.struct(
                F.lit("uniqueness").alias("check"),
                F.concat(F.lit("dup_cnt="), F.col("dup_cnt")).alias("detail"),
                F.col("dup_cnt").cast("double").alias("score"),
            ),
        ).cast(check_struct),
        F.when(
            conf_detail != "",
            F.struct(
                F.lit("conformance").alias("check"),
                conf_detail.alias("detail"),
                F.lit(1.0).alias("score"),
            ),
        ).cast(check_struct),
        F.when(
            F.col("n_orphans").isNotNull(),
            F.struct(
                F.lit("referential").alias("check"),
                F.concat(
                    F.lit("orphan_refs="), F.concat_ws(",", "orphan_refs")
                ).alias("detail"),
                F.col("n_orphans").cast("double").alias("score"),
            ),
        ).cast(check_struct),
    )
    return (
        flagged.select(
            "doc_id",
            "partition_id",
            "spans",
            F.explode(F.filter(checks_arr, lambda x: x.isNotNull())).alias("c"),
        )
        .select(
            F.col("c.check").alias("check"),
            F.col("partition_id").cast("int"),
            "doc_id",
            F.col("c.detail").alias("detail"),
            F.col("c.score").alias("score"),
            "spans",
        )
    )


def _count_grid(violations: DataFrame, capped: bool) -> dict[int, dict]:
    """The per-partition violation count grid, collected: partition_id →
    {check: violating docs}. One violation row is one doc × check, and a
    conformance row names every conformance check the doc failed in its
    detail. On an exemplar-capped stream (``_cap_violations``) the counts
    are the exact group sizes stamped on every exemplar row (max over a
    group constant): row counts are capped, the stamped counts are not."""
    is_conf = F.col("check") == "conformance"
    if capped:
        aggs = [
            F.max(F.when(F.col("check") == name, F.col("__n_in_group")))
            .alias(name)
            for name in ("uniqueness", "referential")
        ] + [
            F.max(F.when(is_conf, F.col(f"__cnt_{name}"))).alias(name)
            for name in CONF_CHECKS
        ]
    else:
        aggs = [
            F.count(F.when(F.col("check") == name, 1)).alias(name)
            for name in ("uniqueness", "referential")
        ] + [
            F.count(F.when(is_conf & F.col("detail").contains(name), 1))
            .alias(name)
            for name in CONF_CHECKS
        ]
    return {
        r["partition_id"]: r.asDict()
        for r in violations.groupBy("partition_id").agg(*aggs).collect()
    }


def verdict_rows(
    grid: dict[int, dict],
    totals,
    has_catalog: bool,
    cfg: ValidationConfig = DEFAULT_CONFIG,
) -> list[tuple]:
    """Per-partition verdict tuples (VERDICTS_DDL order) from the count
    grid and ``totals``, the (partition_id, n_rows) pairs of the
    partitions validated — a partition absent from the grid had no
    violations. The one grid→verdicts kernel of the batch pass, the
    micro-batch and the feedback recompute.

    n_violations counts VIOLATING DOCS per check. Pass/fail applies the
    configured violation-RATE gates (F11 semantics with per-check
    thresholds: any dup/orphan fails — max_dup_rate/max_orphan_rate 0 —
    while conformance tolerates up to max_null_rate/max_type_error_rate;
    exact violation rows are emitted regardless)."""
    gates = check_gates(cfg)
    names = ["uniqueness", *CONF_CHECKS] + (
        ["referential"] if has_catalog else []
    )
    rows = []
    for pid, n_rows in totals:
        counts = grid.get(pid, {})
        for name in names:
            n = int(counts.get(name) or 0)
            rate = n / n_rows if n_rows else None
            failed = rate is not None and rate > gates[name]
            rows.append(
                (name, pid, n_rows, n, rate, rate, "fail" if failed else "pass")
            )
    return rows


def drift_rows(
    hist_rows, base_rows, cfg: ValidationConfig, check_prefix: str
) -> list[tuple]:
    """Length-drift verdict tuples of a collected (kind, bucket)
    histogram against the collected baseline, at the configured drift
    thresholds — shared by the batch pass and the micro-batch."""
    d = cfg.drift
    return drift_ops.drift_verdict_rows(
        hist_rows,
        base_rows,
        keys=["kind"],
        psi_threshold=d.psi_threshold_global,
        ks_threshold=d.ks_threshold_global,
        check_prefix=check_prefix,
        chi2_threshold=d.chi2_threshold_global,
        jsd_threshold=d.jsd_threshold_global,
    )


def _partition_outcomes(part_rows: list[tuple]) -> dict[int, tuple]:
    """partition_id → (violations summed over checks, any check failed)
    — the manifest record's view of a partition's verdict rows."""
    out: dict[int, tuple] = {}
    for _check, pid, _n, n_viol, _rate, _score, verdict in part_rows:
        total, failed = out.get(pid, (0, False))
        out[pid] = (total + (n_viol or 0), failed or verdict == "fail")
    return out


_CAP_HELPER_COLS = ["__n_in_group"] + [f"__cnt_{n}" for n in CONF_CHECKS]


def _cap_violations(violations: DataFrame, k: int) -> DataFrame:
    """Exemplar-capped violation stream: at most ``k`` rows per
    (check, partition), each carrying the EXACT group counts as window
    aggregates (``__n_in_group`` + per-conformance-name ``__cnt_*``)
    so verdicts stay exact without a second pass over the stream.

    Cost model: ONE shuffle of the violation stream (violation-rate ×
    table, i.e. the thing this cap exists to shrink on the way to the
    sink) — the wide table itself is still scanned exactly once. Every
    non-empty (check, partition) group keeps ≥1 exemplar (k >= 1), so
    the counts survive onto at least one materialized row per group."""
    if k < 1:
        raise ValueError("max_violation_exemplars must be >= 1")
    w = Window.partitionBy("check", "partition_id")
    out = violations.withColumn(
        "__rn", F.row_number().over(w.orderBy("doc_id", "detail"))
    ).withColumn("__n_in_group", F.count(F.lit(1)).over(w))
    for name in CONF_CHECKS:
        out = out.withColumn(
            f"__cnt_{name}",
            F.sum(
                F.when(
                    (F.col("check") == "conformance")
                    & F.col("detail").contains(name),
                    1,
                ).otherwise(0)
            ).over(w),
        )
    return out.filter(F.col("__rn") <= k).drop("__rn")


def validate_scope(
    scope: DataFrame,
    key_scope: DataFrame,
    ref: ReferentialCheck | None,
    cfg: ValidationConfig = DEFAULT_CONFIG,
    out_dir: str | None = None,
    mark=None,
) -> tuple[DataFrame, dict[int, dict]]:
    """The validation core of the batch pass and of every stream
    micro-batch: all violation rows of ``scope`` from ONE wide scan,
    materialized, plus the collected per-partition count grid.

    Duplicate ``cfg.unique_key`` values are detected over ``key_scope``
    (the full table for an incremental pass, so pairs straddling
    validated and pending partitions stay visible; the batch itself for
    a stream) and attributed within ``scope``; referential uses
    ``ref.udf_for(scope)``, or its salted join when that is None.
    The small inputs are cached and counted first — the dup-key count
    on a helper thread, overlapping ``ref``'s catalog work —
    and each is broadcast only within its size guard, beyond which the
    attach is a shuffle join rather than an executor-OOM risk;
    ``mark("small_scans")`` follows. Violations are written to
    ``out_dir`` (overwrite: re-runs and replayed micro-batches stay
    idempotent) and read back, or cached when it is None; with
    ``cfg.max_violation_exemplars`` they are capped, the grid keeping
    the exact counts."""
    spark = scope.sparkSession
    dups = duplicate_keys(key_scope, cfg.unique_key).cache()
    orphan_doc = None
    broadcast_orphans = True
    with ThreadPoolExecutor(max_workers=1) as helper:
        n_dups = helper.submit(dups.count)
        orphan_udf = ref.udf_for(scope) if ref is not None else None
        if ref is not None and orphan_udf is None:
            orphan_doc = ref.orphan_doc(scope).cache()
            # materializing the cache also tells whether this side is
            # still broadcast-sized — at a high violation rate it is not
            broadcast_orphans = orphan_doc.count() <= BROADCAST_MAX_ROWS
        # (key, count) rows are catalog-key-sized: same ceiling as the
        # catalog broadcast
        broadcast_dups = n_dups.result() <= BROADCAST_MAX_CATALOG_ROWS
    if mark is not None:
        mark("small_scans")

    violations = _all_violations(
        scope,
        dups,
        orphan_doc,
        broadcast_orphans,
        orphan_udf=orphan_udf,
        broadcast_dups=broadcast_dups,
        unique_key=cfg.unique_key,
    )
    if cfg.max_violation_exemplars is None:
        if out_dir is None:
            violations = violations.cache()  # the grid collect fills it
        else:
            violations.write.mode("overwrite").parquet(out_dir)
            violations = spark.read.parquet(out_dir)
        grid = _count_grid(violations, capped=False)
    else:
        # the capped stream is bounded (≤ K rows per check × partition):
        # cache it, take the exact counts from its stamped window
        # aggregates, and hand out the rows without the helper columns
        capped = _cap_violations(
            violations, cfg.max_violation_exemplars
        ).cache()
        grid = _count_grid(capped, capped=True)
        violations = capped.drop(*_CAP_HELPER_COLS)
        if out_dir is not None:
            violations.write.mode("overwrite").parquet(out_dir)
            violations = spark.read.parquet(out_dir)
            capped.unpersist()
    # the small inputs are dead once the violations are materialized —
    # in a long-lived session they would otherwise pin block-manager
    # memory the caches that matter need
    dups.unpersist()
    if orphan_doc is not None:
        orphan_doc.unpersist()
    return violations, grid


def run_validation(
    spark: SparkSession,
    docs: DataFrame,
    catalog: DataFrame | None = None,
    baseline_hist: DataFrame | None = None,
    manifest_dir: str | None = None,
    violations_dir: str | None = None,
    run_id: str = "run0",
    now: str = "1970-01-01T00:00:00Z",
    cfg: ValidationConfig = DEFAULT_CONFIG,
    timings: dict | None = None,
    catalog_size_hint: int | None = None,
    contract=None,
) -> ValidationResult:
    """Full constraint + drift pass with resumable checkpointing.

    ``now`` is injected (never wall-clock) for deterministic tests.
    ``timings``: optional dict populated with per-phase wall seconds
    (discovery / small_scans / violations / verdicts) for scaling
    profiles and production observability.
    """
    import time as _time

    _t0 = _time.time()

    def _mark(phase: str) -> None:
        nonlocal _t0
        if timings is not None:
            t = _time.time()
            timings[phase] = round(t - _t0, 3)
            _t0 = t

    manifest = Manifest(manifest_dir) if manifest_dir else None

    def _empty_result() -> ValidationResult:
        from ..schema import VIOLATIONS_SCHEMA

        return ValidationResult(
            local_frame(spark, [], VERDICTS_DDL),
            local_frame(spark, [], VIOLATIONS_SCHEMA),
            [],
            manifest.current_version() if manifest else 0,
        )

    # discovery rows: (partition_id, [snapshot_hash,] n_rows) per
    # partition with rows, collected once — before the scans on resume,
    # from a driver thread overlapping them otherwise
    pool = ThreadPoolExecutor(max_workers=4)
    try:
        fut_snaps = None
        if manifest is not None and manifest.current_version() > 0:
            # resume: the pending list must exist before the scope does
            snap_rows = partition_snapshots(docs).collect()
            pending = sorted(manifest.pending_partitions(snap_rows))
            if not pending:
                return _empty_result()
            # Partition pruning: only unvalidated partitions are read
            # further. Deliberately NOT cached: each stage projects a
            # narrow column subset, so parquet re-scans (vectorized,
            # column-pruned) beat a full-row block-manager cache —
            # caching the spans column in object form benchmarked 2-10x
            # slower at high core counts (GC + eviction churn).
            scope = docs.filter(F.col("partition_id").isin(pending))
        else:
            # cold start or no manifest: every partition with rows is
            # pending by construction, so scope ≡ docs (no isin() filter
            # in any downstream plan) and nothing needs the discovery
            # rows until verdict time. The collect runs on a driver
            # thread beside the dup-key, histogram and wide scans; only
            # a manifest needs the snapshot hashes (the commit records
            # them), otherwise a narrow count scan suffices.
            discovery = (
                partition_snapshots(docs)
                if manifest is not None
                else docs.groupBy("partition_id").agg(
                    F.count("*").alias("n_rows")
                )
            )
            fut_snaps = pool.submit(discovery.collect)
            scope = docs
        _mark("discovery")

        # the drift-input histogram depends only on scope — collect it
        # (and read the baseline) NOW so both overlap the small scans
        # and then the wide violations materialization
        cur_hist = None
        if baseline_hist is not None:
            cur_hist = stats_ops.length_histogram(
                scope,
                bins=cfg.drift.histogram_bins,
                bin_width=cfg.drift.histogram_bin_width,
            )
            fut_hist = pool.submit(
                drift_ops.collect_histogram, cur_hist, ["kind"]
            )
            fut_base = pool.submit(
                drift_ops.collect_histogram, baseline_hist, ["kind"]
            )
        ref = (
            ReferentialCheck(
                spark, catalog, catalog_size_hint, cfg.salt_buckets
            )
            if catalog is not None
            else None
        )
        violations, grid = validate_scope(
            scope,
            docs,
            ref,
            cfg,
            out_dir=(
                os.path.join(violations_dir, f"_staged_{run_id}")
                if violations_dir is not None
                else None
            ),
            mark=_mark,
        )
        if cur_hist is not None:
            hist_rows = fut_hist.result()
            base_rows = fut_base.result()
            cur_hist = local_frame(
                spark,
                [(*key, bucket, n) for key, bucket, n in hist_rows],
                cur_hist.schema,
            )
        if fut_snaps is not None:
            snap_rows = fut_snaps.result()
            pending = sorted(r.partition_id for r in snap_rows)
            if not pending:
                return _empty_result()
    finally:
        pool.shutdown(wait=False)
    _mark("violations")

    # --- verdicts: metadata-scale math on the driver. The grid is
    # partitions x checks counts and the histograms kinds x bins rows,
    # so one collect of the grid plus plain Python replaces the joins,
    # windows and unions a Spark formulation pays a scheduler round-trip
    # for each; the result is ONE Arrow-backed local frame, whose plan is
    # a LocalTableScan, so a caller's .collect()/.show() start no scan
    # job over a parallelized list ---
    snap_map = {r.partition_id: r for r in snap_rows}
    part_rows = verdict_rows(
        grid,
        [(pid, snap_map[pid].n_rows) for pid in pending],
        has_catalog=catalog is not None,
        cfg=cfg,
    )
    rows = list(part_rows)
    if cur_hist is not None:
        rows += drift_rows(hist_rows, base_rows, cfg, "drift_len")

    # --- optional declarative schema contract (structural tier is
    # driver-side metadata only; data tier is one narrow agg pass) ---
    if contract is not None:
        from ..operators.contract import contract_verdicts

        rows += [
            tuple(r)
            for r in contract_verdicts(scope, contract).select(
                F.concat_ws(":", F.col("check"), F.col("column")),
                F.lit(None).cast("int"),
                F.lit(None).cast("long"),
                "n_violations",
                "violation_rate",
                F.col("n_violations").cast("double"),
                "verdict",
            ).collect()
        ]

    # --- table-level rollup (the "ensemble" two-level verdict) ---
    rows += rollup_rows(part_rows)
    verdicts = local_frame(spark, rows, VERDICTS_DDL)

    _mark("verdicts")
    manifest_version = 0
    if manifest is not None:
        outcomes = _partition_outcomes(part_rows)
        records = []
        for pid in pending:
            n_viol, failed = outcomes.get(pid, (0, False))
            records.append(
                {
                    "partition_id": pid,
                    "snapshot_hash": snap_map[pid].snapshot_hash,
                    "n_rows": snap_map[pid].n_rows,
                    "n_violations": n_viol,
                    "verdict": "fail" if failed else "pass",
                    "metrics": {
                        "n_rows": snap_map[pid].n_rows,
                        "run_id": run_id,
                    },
                }
            )
        manifest_version = manifest.commit_validated(records, run_id, now)

    return ValidationResult(
        verdicts, violations, pending, manifest_version,
        capped=cfg.max_violation_exemplars is not None,
        current_hist=cur_hist,
    )


def revalidate_with_feedback(
    spark: SparkSession,
    violations: DataFrame,
    totals: DataFrame,
    feedback: DataFrame,
    has_catalog: bool = True,
    manifest: Manifest | None = None,
    run_id: str = "feedback0",
    now: str = "1970-01-01T00:00:00Z",
    cfg: ValidationConfig = DEFAULT_CONFIG,
) -> ValidationResult:
    """Recompute verdicts after human feedback marked violation rows as
    false positives (operators/feedback.py) — no source-table re-scan;
    only the (small) violations output is touched, which is exactly why
    verdicts are derived from violations rather than re-scans.

    ``totals`` is (partition_id, n_rows) — at feedback time this comes
    from the manifest (n_rows is recorded per partition), never from a
    new scan. Manifest metrics/verdicts are updated in place without
    touching snapshot hashes, so the should-process predicate is
    unaffected (the data didn't change, only its interpretation).

    Feedback recompute counts violation ROWS, so it requires the run
    being corrected to have written the full violations table
    (max_violation_exemplars=None, the default) — on an exemplar-capped
    run the counts would reflect only the capped exemplars. The two
    features serve opposite regimes: feedback review assumes a
    human-scale violation set; the cap exists for violation sets too
    large to review row-by-row."""
    from ..operators.feedback import apply_feedback, live_violations

    flagged = apply_feedback(violations, feedback).cache()
    totals_rows = [
        tuple(r) for r in totals.select("partition_id", "n_rows").collect()
    ]
    part_rows = verdict_rows(
        _count_grid(live_violations(flagged), capped=False),
        totals_rows,
        has_catalog=has_catalog,
        cfg=cfg,
    )
    verdicts = local_frame(
        spark, part_rows + rollup_rows(part_rows), VERDICTS_DDL
    )
    version = 0
    if manifest is not None:
        n_fb = flagged.filter(~F.col("is_anomaly")).count()
        records = [
            {
                "partition_id": pid,
                "n_violations": n_viol,
                "verdict": "fail" if failed else "pass",
                "metrics": {"feedback_run": run_id, "n_feedback_total": n_fb},
            }
            for pid, (n_viol, failed) in _partition_outcomes(part_rows).items()
        ]
        version = manifest.update_metrics(records, run_id, now)
    return ValidationResult(
        verdicts,
        flagged,
        sorted(pid for pid, _ in totals_rows),
        version,
    )


def preflight_estimate(
    spark: SparkSession,
    docs: DataFrame,
    catalog: DataFrame | None = None,
    fraction: float = 0.01,
    seed: int = 42,
    cfg: ValidationConfig = DEFAULT_CONFIG,
    confidence_z: float = 2.576,
    catalog_size_hint: int | None = None,
    mode: str = "rows",
) -> DataFrame:
    """Sampled pre-flight estimate: would a full validation pass
    pass its gates? At 10^12 docs you want this answer from a
    ``fraction`` of the wide-column work before committing the full
    pass — the 100 TB analog of a dry run.

    Two tiers, matched to what each check actually costs:

    * **exact** — uniqueness. Sampling keys cannot see duplicates
      (a dup pair survives a p-sample with probability p²), but the
      dup-key scan only reads the KEY column — cheap at any scale —
      so it runs exact over the full table.
    * **sampled** — the wide-column checks (conformance families +
      referential), which dominate full-pass cost; per-check verdict
      is ``fail`` if the confidence interval's floor clears the gate,
      ``pass`` if its ceiling stays under, else ``inconclusive`` (run
      the full pass / raise the fraction). For zero-tolerance gates
      any sampled sighting is definitive: the sample is a subset of
      the table, so an observed orphan proves a violation exists —
      no statistics needed for ``fail``.

    Two sampling ``mode``s, matched to what a sample costs at scale:

    * ``"rows"`` — uniform row sample, Wilson score interval at
      ``confidence_z`` (default 99%). Statistically tightest, but a
      row sample still READS every file (decode-then-drop), so its
      saving is CPU, not IO — right for small-to-mid tables or
      CPU-bound rechecks.
    * ``"partitions"`` — cluster sample: ⌈fraction·M⌉ whole
      partitions chosen by deterministic key hash, scanned via
      partition pruning — on a partitioned/Iceberg layout the
      unsampled files are never opened, so cost is truly
      ``fraction`` of the table. CI widens to the cluster-sampling
      ratio-estimator variance with finite-population correction
      (between-partition variance dominates when violations cluster
      by partition — exactly when a row-sample CI would lie).

    Returns a driver-materialized DataFrame (one row per check):
    (check, tier, n_evaluated, n_violations, rate, ci_lo, ci_hi,
    gate, verdict). Deterministic under (fraction, seed, mode).
    """
    import hashlib
    import math

    if mode not in ("rows", "partitions"):
        raise ValueError(f"mode must be 'rows' or 'partitions': {mode!r}")

    # --- exact narrow tier: dup keys over the full key column ---
    n_total = docs.count()
    dups = duplicate_keys(docs, cfg.unique_key)
    n_dup_docs = int(
        dups.agg(F.coalesce(F.sum("dup_cnt"), F.lit(0))).first()[0]
    )

    # --- sampled wide tier: one scan, every flag in one agg ---
    n_clusters_total = None
    if mode == "partitions":
        all_pids = sorted(
            r.partition_id
            for r in docs.select("partition_id").distinct().collect()
        )
        n_clusters_total = len(all_pids)
        m = max(1, math.ceil(fraction * n_clusters_total))
        chosen = sorted(
            all_pids,
            key=lambda p: hashlib.md5(f"{seed}:{p}".encode()).hexdigest(),
        )[:m]
        sample = docs.filter(F.col("partition_id").isin(chosen))
    else:
        sample = docs.sample(fraction=fraction, seed=seed)
    flags = stats_ops.conformance_exprs()
    proj = [v.cast("long").alias(k) for k, v in flags.items()]
    ref = (
        ReferentialCheck(spark, catalog, catalog_size_hint, cfg.salt_buckets)
        if catalog is not None
        else None
    )
    ref_udf = ref.udf_for(sample) if ref is not None else None
    ref_in_agg = ref_udf is not None
    if ref_in_agg:
        proj.append(
            (F.size(ref_udf(span_refs_column())) > 0)
            .cast("long")
            .alias("referential")
        )
    elif ref is not None:
        # catalog and the sample's refs beyond broadcast: the salted
        # anti-join runs on the SAMPLE's exploded refs only — fraction x
        # the full cost
        ref_joined = {
            r.partition_id: r["count"]
            for r in ref.orphan_doc(sample).groupBy("partition_id")
            .count()
            .collect()
        }
    check_cols = list(flags) + (["referential"] if ref_in_agg else [])
    # per-partition grid either way (metadata scale): rows mode sums it
    # globally, partitions mode needs the per-cluster counts for the CI
    grid = (
        sample.select("partition_id", *proj)
        .groupBy("partition_id")
        .agg(
            F.count("*").alias("__n"),
            *[F.sum(k).alias(k) for k in check_cols],
        )
        .collect()
    )
    n_sample = sum(int(r["__n"]) for r in grid)

    gates = check_gates(cfg)

    def _wilson(x: int, n: int) -> tuple[float, float]:
        if n == 0:
            return (0.0, 1.0)
        z = confidence_z
        p = x / n
        denom = 1 + z * z / n
        center = (p + z * z / (2 * n)) / denom
        half = (
            z * math.sqrt(p * (1 - p) / n + z * z / (4 * n * n)) / denom
        )
        # at x=0 center and half are mathematically EQUAL (both
        # z²/2n/denom) but the sqrt path rounds a few ulps low,
        # leaving a spurious +4e-19 lower bound above the observed
        # rate 0.0 — pin the exact endpoints
        lo = 0.0 if x == 0 else max(0.0, center - half)
        hi = 1.0 if x == n else min(1.0, center + half)
        return (lo, hi)

    def _t_quantile(z: float, nu: int) -> float:
        """Student-t quantile from its normal counterpart via the
        standard asymptotic expansion in 1/nu (within 0.1% for nu >= 9,
        ~3-4% low at nu = 3; callers must not use it below nu = 3 —
        t_1(99%) is 63.7 and no expansion around z reaches it).
        Needed because a cluster sample of m partitions estimates
        variance on m-1 dof — with m=4 the honest 99% multiplier is
        ~5.8, not 2.58; the normal quantile would make small-m CIs
        confidently wrong."""
        if nu < 3:
            return float("inf")
        z3, z5, z7 = z ** 3, z ** 5, z ** 7
        return (
            z
            + (z3 + z) / (4 * nu)
            + (5 * z5 + 16 * z3 + 3 * z) / (96 * nu * nu)
            + (3 * z7 + 19 * z5 + 17 * z3 - 15 * z) / (384 * nu ** 3)
        )

    def _cluster_ci(xs: list[int], ns: list[int]) -> tuple[float, float]:
        """Ratio-estimator CI for a cluster (whole-partition) sample of
        m of M clusters, with finite-population correction (collapses
        to the exact value at fraction=1) and a Student-t multiplier on
        m-1 dof for the between-partition variance estimate."""
        n_tot, x_tot, m = sum(ns), sum(xs), len(ns)
        if n_tot == 0:
            return (0.0, 1.0)
        p = x_tot / n_tot
        if m == n_clusters_total and m >= 1:
            return (p, p)       # census: fpc would zero the variance
        if m < 4:
            # 1-3 sampled clusters = 0-2 variance dof: a 99%-level t
            # multiplier is 9.9-63.7x the normal one — no useful bound.
            # Report total ignorance; the zero-tolerance sighting rule
            # still fires, everything else is honestly inconclusive.
            return (0.0, 1.0)
        nbar = n_tot / m
        s2 = sum((x - p * n) ** 2 for x, n in zip(xs, ns)) / (m - 1)
        var = max(
            0.0,
            (1 - m / n_clusters_total) * s2 / (m * nbar * nbar),
        )
        half = _t_quantile(confidence_z, m - 1) * math.sqrt(var)
        return (max(0.0, p - half), min(1.0, p + half))

    rows = []
    exact_rate = n_dup_docs / n_total if n_total else 0.0
    rows.append(
        (
            "uniqueness",
            "exact",
            n_total,
            n_dup_docs,
            exact_rate,
            exact_rate,
            exact_rate,
            gates["uniqueness"],
            "fail" if exact_rate > gates["uniqueness"] else "pass",
        )
    )
    per_check: dict[str, tuple[list[int], list[int]]] = {}
    ns = [int(r["__n"]) for r in grid]
    for name in check_cols:
        per_check[name] = ([int(r[name] or 0) for r in grid], ns)
    if catalog is not None and not ref_in_agg:
        per_check["referential"] = (
            [int(ref_joined.get(r["partition_id"], 0)) for r in grid],
            ns,
        )
    tier = "sampled" if mode == "rows" else "sampled_partitions"
    for name, (xs, ns_) in per_check.items():
        x = sum(xs)
        if mode == "rows":
            lo, hi = _wilson(x, n_sample)
        else:
            lo, hi = _cluster_ci(xs, ns_)
        gate = gates[name]
        if x > 0 and gate == 0.0:
            verdict = "fail"       # sample ⊆ table: sighting is proof
        elif lo > gate:
            verdict = "fail"
        elif hi <= gate:
            verdict = "pass"
        else:
            verdict = "inconclusive"
        rows.append(
            (
                name,
                tier,
                n_sample,
                x,
                (x / n_sample) if n_sample else 0.0,
                lo,
                hi,
                gate,
                verdict,
            )
        )
    return local_frame(
        spark,
        rows,
        "check string, tier string, n_evaluated long, n_violations long,"
        " rate double, ci_lo double, ci_hi double, gate double,"
        " verdict string",
    )
