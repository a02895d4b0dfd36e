"""End-to-end validation pipeline: the engine's analog of the
reference's per-file poll loop (/root/reference/main.py:136-275) →
ensemble pass (:277-357), restructured for Spark. ``validate_scope`` is
the core the batch pass, every stream micro-batch and the pre-flight share:

  ONE cached narrow projection of the key scope (key columns, doc_id,
  partition_id, the conformance detail string, the row hash when a
  manifest needs snapshot hashes, the refs and their fingerprint when a
  catalog is given, the spans' (kind, length bucket) codes when a drift
  baseline is — never span text)
    → its first action: the per-partition snapshot rows (or totals)
      with the conformance counts — partition discovery (S5)
    → from the cache, concurrently: the dup keys, the referential
      orphan pairs and the scope's length histogram, each collected
      bounded
  → the verdict grid: plain driver math over those collected rows
  → ONE wide scan that only writes violation rows (conformance is a
    row-local SQL predicate set; dup keys and orphan groups attach as
    broadcast local relations)
  → verdict rows, table-level rollup, drift scores and manifest records
    computed on the driver from the grid, the snapshot rows and both
    length histograms — all metadata scale — and materialized as ONE
    Arrow-backed local frame (``schema.local_frame``)
  → atomic manifest commit (lineage + metrics)

Scan budget per pass (the thing that matters at 100 TB): two reads of
the table — the narrow pass and the full-width violations write. The
referential check reads only the catalog's key column: broadcast whole
within the broadcast cap, else a semi-join scan against the scope's
distinct refs, or — only when those also exceed the cap — the salted
anti-join (operators/referential.py). No Spark job runs after the
violations write: verdicts, rollups and drift are driver-side math over
bounded-size collected intermediates.

Resume semantics: a pass writes one manifest version (none when nothing
is pending). A crash before the manifest commit leaves CURRENT pointing
at the previous version; the next run's pending set is unchanged and it
stages the same violations again under its own run_id (idempotent,
keyed on snapshot hash — S2/S5, database_manager.py:84-103). The dead
run's ``_staged_<run_id>`` directory is left behind.
"""

from __future__ import annotations

import hashlib
import math
import os
from collections import Counter

import pyarrow as pa
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, ValidationConfig
from ..operators import drift as drift_ops
from ..operators import stats as stats_ops
from ..operators.referential import (
    BROADCAST_MAX_CATALOG_ROWS,
    REFS_SQL,
    ROW_FP_SQL,
    ReferentialCheck,
    orphan_groups,
    ref_pairs,
)
from ..operators.stats import CONF_CHECKS, CONF_DETAIL_SQL
from ..operators.uniqueness import duplicate_keys, key_present_sql
from ..operators.verdict import rollup_rows
from ..schema import VERDICTS_DDL, local_frame
from ..sources.manifest import ROW_HASH_SQL, Manifest, snapshot_hash_sql


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

# The violation checks of one row as SQL over the flagged scope: an
# array of (check, detail, score) structs, null for a check the row
# passes. Cast to the nullable struct the violations table declares.
_CHECKS_SQL = (
    "CAST(filter(array("
    "IF(dup_cnt IS NULL, NULL, named_struct('check', 'uniqueness',"
    " 'detail', concat('dup_cnt=', dup_cnt),"
    " 'score', CAST(dup_cnt AS DOUBLE))),"
    " IF(_conf = '', NULL, named_struct('check', 'conformance',"
    " 'detail', _conf, 'score', 1.0D)),"
    " IF(orphan_refs IS NULL, NULL, named_struct('check', 'referential',"
    " 'detail', concat('orphan_refs=', concat_ws(',', orphan_refs)),"
    " 'score', CAST(size(orphan_refs) AS DOUBLE)))"
    "), c -> c IS NOT NULL)"
    " AS ARRAY<STRUCT<check: STRING, detail: STRING, score: DOUBLE>>)"
)


def _key_cols(unique_key) -> list[str]:
    return [unique_key] if isinstance(unique_key, str) else list(unique_key)


def _all_violations(
    scope: DataFrame,
    dups: DataFrame | None,
    orphans: DataFrame | None,
    unique_key="doc_id",
    broadcast_dups: bool = True,
    broadcast_orphans: bool = True,
) -> DataFrame:
    """One wide scan → every violation row (VIOLATIONS_SCHEMA shape).

    Conformance is the row-local ``CONF_DETAIL_SQL``. Uniqueness
    attaches the dup keys (key..., dup_cnt) on the configured key (a
    composite key joins on every part, so a null part never matches)
    and referential the orphan groups (doc_id, partition_id, row_fp,
    orphan_refs) on the row's own refs fingerprint: both are broadcast
    local relations, or cached frames joined by shuffle beyond the
    broadcast cap; None means no row of the scope fails that check.
    The plan is built from SQL strings: every Column call is a py4j
    round trip, and the Column-chain build of this plan took 972 of
    them (0.33-0.40 s of driver time) against ~70 (0.17 s) as SQL.

    Each violating doc emits one row per failed check, spans verbatim."""
    flagged = scope
    if dups is not None:
        flagged = flagged.join(
            F.broadcast(dups) if broadcast_dups else dups,
            _key_cols(unique_key),
            "left",
        )
    if orphans is not None:
        flagged = flagged.selectExpr("*", f"{ROW_FP_SQL} AS row_fp").join(
            F.broadcast(orphans) if broadcast_orphans else orphans,
            ["doc_id", "partition_id", "row_fp"],
            "left",
        )
    return flagged.selectExpr(
        "doc_id",
        "partition_id",
        "spans",
        f"{CONF_DETAIL_SQL} AS _conf",
        "dup_cnt" if dups is not None else "CAST(NULL AS BIGINT) AS dup_cnt",
        "orphan_refs" if orphans is not None
        else "CAST(NULL AS ARRAY<STRING>) AS orphan_refs",
    ).selectExpr(
        "doc_id", "partition_id", "spans", f"inline({_CHECKS_SQL})"
    ).selectExpr(
        "check",
        "CAST(partition_id AS INT) AS partition_id",
        "doc_id",
        "detail",
        "score",
        "spans",
    )


def _count_grid(violations: DataFrame) -> dict[int, dict]:
    """The per-partition violation count grid of a full violations
    table, collected: partition_id → {check: violating docs}. One
    violation row is one doc × check, and a conformance row names every
    conformance check the doc failed in its detail. The feedback
    recompute's grid; a pass computes the same counts on the driver
    (``validate_scope``)."""
    is_conf = F.col("check") == "conformance"
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


def _cap_violations(violations: DataFrame, k: int) -> DataFrame:
    """Exemplar-capped violation stream: at most ``k`` rows per
    (check, partition). The verdict counts never come from these rows
    (``validate_scope`` computes them before the wide scan), so the cap
    is one window over the violation stream — violation-rate × table,
    the thing this cap exists to shrink on the way to the sink."""
    if k < 1:
        raise ValueError("max_violation_exemplars must be >= 1")
    return (
        violations.selectExpr(
            "*",
            "row_number() OVER (PARTITION BY check, partition_id"
            " ORDER BY doc_id, detail) AS __rn",
        )
        .filter(f"__rn <= {int(k)}")
        .drop("__rn")
    )


def _collect_bounded(rows: DataFrame, most: int):
    """``rows`` — at most ``most`` of them, by the discovery counts — as
    an Arrow table, or None beyond the broadcast cap: there the attach
    becomes a shuffle join of a cached frame rather than an executor-OOM
    risk. Only a ``most`` beyond the cap pays for the bounded collect: a
    root limit gathers the rows through a single-partition exchange
    (0.3-0.4 s against 0.07-0.09 s for a plain collect of a few thousand
    rows on a 4-core host)."""
    cap = BROADCAST_MAX_CATALOG_ROWS
    tbl = (rows if most <= cap else rows.limit(cap + 1)).toArrow()
    return None if tbl.num_rows > cap else tbl


def _local(spark: SparkSession, tbl):
    """An Arrow table as a local relation (None when it is empty: no row
    fails that check, so nothing attaches)."""
    return spark.createDataFrame(tbl) if tbl.num_rows else None


def _dup_keys(narrow: DataFrame, key_cols: list[str], n_rows: int, cached):
    """(attach frame, broadcast?, partition_id → duplicate rows) of the
    duplicated ``key_cols`` values of the ``n_rows`` key-scope rows (a
    key with a null part is never one: ``key_present_sql``). A frame cached
    beyond the cap is appended to ``cached``."""
    agg = (
        narrow.filter(key_present_sql(key_cols))
        .groupBy(*key_cols)
        .agg(
            F.count("*").alias("dup_cnt"),
            F.collect_list("partition_id").alias("_pids"),
        )
        .filter("dup_cnt > 1")
    )
    # every duplicated key covers at least two rows
    tbl = _collect_bounded(agg, n_rows // 2)
    if tbl is None:
        agg = agg.cache()
        cached.append(agg)
        counts = dict(
            agg.selectExpr("explode(_pids) AS p")
            .groupBy("p")
            .count()
            .collect()
        )
        return agg.drop("_pids"), False, counts
    counts = Counter(
        p for pids in tbl.column("_pids").to_pylist() for p in pids
    )
    local = _local(narrow.sparkSession, tbl.drop_columns(["_pids"]))
    return local, True, counts


_ORPHAN_COLS = ["doc_id", "partition_id", "row_fp", "orphan_refs"]


def _orphans(
    ref: ReferentialCheck, scope_narrow: DataFrame, n_refs: int, cached
):
    """(attach frame, broadcast?, partition_id → rows with an orphan)
    of the referential check of a scope holding ``n_refs`` refs.

    The orphan pairs come back from a map-only query and are grouped per
    physical row here, on the driver: the pairs are violation-rate
    scale, and a Spark grouping costs the critical path one more
    shuffle round (0.25 s of a 0.7 s collect on a 4-core host). Beyond
    the broadcast cap the grouping is Spark's (``orphan_groups``),
    cached for a shuffle-join attach and appended to ``cached``."""
    pairs = ref.orphans(
        ref_pairs(scope_narrow, refs="_refs", row_fp="row_fp"), n_refs
    )
    tbl = _collect_bounded(pairs, n_refs)
    if tbl is None:
        groups = orphan_groups(pairs).cache()
        cached.append(groups)
        counts = dict(
            groups.groupBy("partition_id").agg(F.sum("n_rows")).collect()
        )
        return groups.select(*_ORPHAN_COLS), False, counts
    groups: dict[tuple, list] = {}
    for *key, media_ref in zip(
        *(tbl.column(c).to_pylist() for c in (*_ORPHAN_COLS[:3], "media_ref"))
    ):
        group = groups.setdefault(tuple(key), [set(), 0])
        group[0].add(media_ref)
        group[1] += 1
    counts = Counter()
    if not groups:
        return None, True, counts
    for key, (refs, n_pairs) in groups.items():
        # one pair per distinct orphan ref per physical row
        counts[key[1]] += n_pairs // len(refs)
    types = [
        tbl.schema.field(c).type for c in (*_ORPHAN_COLS[:3], "media_ref")
    ]
    local = pa.Table.from_arrays(
        [pa.array(col, type=t) for col, t in zip(zip(*groups), types)]
        + [pa.array([sorted(refs) for refs, _ in groups.values()],
                    type=pa.list_(types[3]))],
        names=_ORPHAN_COLS,
    )
    return _local(scope_narrow.sparkSession, local), True, counts


@dataclass
class ScopeResult:
    scope: DataFrame             # the rows validated
    violations: DataFrame | None  # None when not asked for
    grid: dict[int, dict]        # partition_id → {check: violating docs}
    partitions: dict             # partition_id → discovery row (n_rows, ...)
    pending: list[int]           # the partitions validated, sorted
    hist_rows: list | None       # the scope's (kind, bucket) histogram


def validate_scope(
    docs: DataFrame,
    ref: ReferentialCheck | None,
    cfg: ValidationConfig = DEFAULT_CONFIG,
    out_dir: str | None = None,
    pending_of=None,
    snapshot_hashes: bool = False,
    histogram: bool = False,
    emit: bool = True,
    mark=None,
) -> ScopeResult | None:
    """The validation core of the batch pass, of every stream
    micro-batch and of the pre-flight's sampled tier (``emit=False``).
    ``docs`` is the key scope: duplicate ``cfg.unique_key``
    values are detected over all of it (for an incremental pass the full
    table, so pairs straddling validated and pending partitions stay
    visible) and attributed within the validated scope, its partitions
    ``pending_of(discovery rows)`` (default: every partition with rows).
    Returns None when nothing is pending.

    One cached narrow projection feeds every small input. Its first
    action collects the per-partition discovery rows — n_rows, the
    conformance counts and, with ``snapshot_hashes``, the snapshot hash
    — then ``mark("discovery")``. From the cache, concurrently, come the
    dup keys, ``ref``'s orphan pairs and, with ``histogram``, the
    scope's length histogram binned like ``cfg.drift``; the count grid
    is driver math over the collected rows; ``mark("small_scans")``.
    With ``emit``, one wide scan writes the violation rows to ``out_dir``
    (overwrite: re-runs and replayed micro-batches stay idempotent) and
    reads them back, or returns them lazily cached when it is None,
    capped by ``cfg.max_violation_exemplars``; ``mark("violations")``."""
    spark = docs.sparkSession
    key_cols = _key_cols(cfg.unique_key)
    proj = [
        f"`{c}`"
        for c in dict.fromkeys([*key_cols, "doc_id", "partition_id"])
    ]
    proj.append(f"{CONF_DETAIL_SQL} AS _conf")
    if snapshot_hashes:
        proj.append(f"{ROW_HASH_SQL} AS _rh")
    if ref is not None:
        proj += [f"{REFS_SQL} AS _refs", f"{ROW_FP_SQL} AS row_fp"]
    if histogram:
        d = cfg.drift
        codes = stats_ops.span_codes_sql(
            d.histogram_bins, d.histogram_bin_width
        )
        proj.append(f"{codes} AS _codes")
    narrow = docs.selectExpr(*proj).cache()
    cached = []  # frames cached beyond the broadcast cap

    pool = ThreadPoolExecutor(max_workers=3)
    try:
        aggs = ["count(*) AS n_rows"] + [
            f"count_if(array_contains(split(_conf, ','), '{name}')) AS {name}"
            for name in CONF_CHECKS
        ]
        if snapshot_hashes:
            aggs.append(f"{snapshot_hash_sql('_rh')} AS snapshot_hash")
        if ref is not None:  # bounds the orphan pairs
            aggs.append("sum(size(coalesce(_refs, array()))) AS _n_refs")
        rows = (
            narrow.groupBy("partition_id")
            .agg(*[F.expr(a) for a in aggs])
            .collect()
        )
        partitions = {r.partition_id: r for r in rows}
        pending = sorted(
            partitions if pending_of is None else pending_of(rows)
        )
        if mark is not None:
            mark("discovery")
        if not pending:
            return None
        scope, scope_narrow = docs, narrow
        if len(pending) < len(partitions):
            scope = docs.filter(F.col("partition_id").isin(pending))
            scope_narrow = narrow.filter(F.col("partition_id").isin(pending))
        fut_hist = (
            pool.submit(
                drift_ops.collect_histogram,
                scope_narrow.selectExpr("inline(_codes)")
                .groupBy("kind", "bucket")
                .count(),
                ["kind"],
            )
            if histogram
            else None
        )
        fut_orphans = (
            pool.submit(
                _orphans, ref, scope_narrow,
                sum(partitions[p]._n_refs for p in pending), cached,
            )
            if ref is not None
            else None
        )
        dups, broadcast_dups, dup_counts = _dup_keys(
            narrow, key_cols, sum(r.n_rows for r in rows), cached
        )
        orphans, broadcast_orphans, orphan_counts = (
            fut_orphans.result()
            if fut_orphans is not None
            else (None, True, {})
        )
        grid = {
            pid: {
                **{name: partitions[pid][name] for name in CONF_CHECKS},
                "uniqueness": dup_counts.get(pid, 0),
                "referential": orphan_counts.get(pid, 0),
            }
            for pid in pending
        }
        if mark is not None:
            mark("small_scans")

        violations = None
        if emit:
            violations = _all_violations(
                scope, dups, orphans, cfg.unique_key,
                broadcast_dups, broadcast_orphans,
            )
            if cfg.max_violation_exemplars is not None:
                violations = _cap_violations(
                    violations, cfg.max_violation_exemplars
                )
            if out_dir is None:
                violations = violations.cache()
            else:
                violations.write.mode("overwrite").parquet(out_dir)
                violations = spark.read.schema(violations.schema).parquet(
                    out_dir
                )
        hist_rows = fut_hist.result() if fut_hist is not None else None
    finally:
        pool.shutdown(wait=False)
        narrow.unpersist()
        # the small inputs are dead once the violations are written — in
        # a long-lived session they would otherwise pin block-manager
        # memory the caches that matter need
        if out_dir is not None or not emit:
            for frame in cached:
                frame.unpersist()
    if mark is not None:
        mark("violations")
    return ScopeResult(scope, violations, grid, partitions, pending, hist_rows)


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
    ref = (
        ReferentialCheck(spark, catalog, catalog_size_hint, cfg.salt_buckets)
        if catalog is not None
        else None
    )
    # the pass-invariant inputs — the catalog size and the stored
    # baseline — are read beside the narrow pass from the start
    pool = ThreadPoolExecutor(max_workers=2)
    try:
        if ref is not None:
            pool.submit(getattr, ref, "n")
        fut_base = (
            pool.submit(drift_ops.collect_histogram, baseline_hist, ["kind"])
            if baseline_hist is not None
            else None
        )
        res = validate_scope(
            docs,
            ref,
            cfg,
            out_dir=(
                os.path.join(violations_dir, f"_staged_{run_id}")
                if violations_dir is not None
                else None
            ),
            # resume: only partitions whose snapshot hash changed
            pending_of=(
                manifest.pending_partitions
                if manifest is not None and manifest.current_version() > 0
                else None
            ),
            snapshot_hashes=manifest is not None,
            histogram=baseline_hist is not None,
            mark=_mark,
        )
        base_rows = fut_base.result() if fut_base is not None else None
    finally:
        pool.shutdown(wait=False)
    if res is None:
        from ..schema import VIOLATIONS_SCHEMA

        return ValidationResult(
            local_frame(spark, [], VERDICTS_DDL),
            local_frame(spark, [], VIOLATIONS_SCHEMA),
            [],
            manifest.current_version() if manifest else 0,
        )
    pending, snap_map = res.pending, res.partitions

    # --- verdicts: metadata-scale math on the driver. The grid is
    # partitions x checks counts and the histograms kinds x bins rows,
    # so plain Python replaces the joins, windows and unions a Spark
    # formulation pays a scheduler round-trip for each; the result is
    # ONE Arrow-backed local frame, whose plan is a LocalTableScan, so a
    # caller's .collect()/.show() start no scan job ---
    part_rows = verdict_rows(
        res.grid,
        [(pid, snap_map[pid].n_rows) for pid in pending],
        has_catalog=catalog is not None,
        cfg=cfg,
    )
    rows = list(part_rows)
    cur_hist = None
    if base_rows is not None:
        rows += drift_rows(res.hist_rows, base_rows, cfg, "drift_len")
        cur_hist = local_frame(
            spark,
            [(*key, bucket, n) for key, bucket, n in res.hist_rows],
            "kind string, bucket int, count long",
        )

    # --- optional declarative schema contract (structural tier is
    # driver-side metadata only; data tier is one narrow agg pass) ---
    if contract is not None:
        from ..operators.contract import contract_verdicts

        rows += [
            tuple(r)
            for r in contract_verdicts(res.scope, contract).select(
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
        verdicts, res.violations, pending, manifest_version,
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
        _count_grid(live_violations(flagged)),
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


def _wilson(x: int, n: int, z: float) -> tuple[float, float]:
    """Wilson score interval of ``x`` hits in ``n`` draws at the normal
    quantile ``z``; total ignorance (0, 1) when ``n`` is 0."""
    if n == 0:
        return (0.0, 1.0)
    p = x / n
    denom = 1 + z * z / n
    center = (p + z * z / (2 * n)) / denom
    half = z * math.sqrt(p * (1 - p) / n + z * z / (4 * n * n)) / denom
    # at x=0 center and half are mathematically EQUAL (both z²/2n/denom)
    # but the sqrt path rounds a few ulps low, leaving a spurious +4e-19
    # lower bound above the observed rate 0.0 — pin the exact endpoints
    lo = 0.0 if x == 0 else max(0.0, center - half)
    hi = 1.0 if x == n else min(1.0, center + half)
    return (lo, hi)


def _t_quantile(z: float, nu: int) -> float:
    """Student-t quantile from its normal counterpart via the standard
    asymptotic expansion in 1/nu (within 0.1% for nu >= 9, ~3-4% low at
    nu = 3; callers must not use it below nu = 3 — t_1(99%) is 63.7 and
    no expansion around z reaches it). Needed because a cluster sample
    of m partitions estimates variance on m-1 dof — with m=4 the honest
    99% multiplier is ~5.8, not 2.58; the normal quantile would make
    small-m CIs confidently wrong."""
    if nu < 3:
        return float("inf")
    z3, z5, z7 = z ** 3, z ** 5, z ** 7
    return (
        z
        + (z3 + z) / (4 * nu)
        + (5 * z5 + 16 * z3 + 3 * z) / (96 * nu * nu)
        + (3 * z7 + 19 * z5 + 17 * z3 - 15 * z) / (384 * nu ** 3)
    )


def _cluster_ci(
    xs: list[int], ns: list[int], n_clusters: int, z: float
) -> tuple[float, float]:
    """Ratio-estimator CI for a cluster (whole-partition) sample of m of
    ``n_clusters`` clusters, with finite-population correction (collapses
    to the exact value at fraction=1) and a Student-t multiplier on m-1
    dof for the between-partition variance estimate."""
    n_tot, x_tot, m = sum(ns), sum(xs), len(ns)
    if n_tot == 0:
        return (0.0, 1.0)
    p = x_tot / n_tot
    if m == n_clusters and m >= 1:
        return (p, p)       # census: fpc would zero the variance
    if m < 4:
        # 1-3 sampled clusters = 0-2 variance dof: a 99%-level t
        # multiplier is 9.9-63.7x the normal one — no useful bound.
        # Report total ignorance; the zero-tolerance sighting rule
        # still fires, everything else is honestly inconclusive.
        return (0.0, 1.0)
    nbar = n_tot / m
    s2 = sum((x - p * n) ** 2 for x, n in zip(xs, ns)) / (m - 1)
    var = max(0.0, (1 - m / n_clusters) * s2 / (m * nbar * nbar))
    half = _t_quantile(z, m - 1) * math.sqrt(var)
    return (max(0.0, p - half), min(1.0, p + half))


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
    ``fraction`` of the pass's work before committing the full pass —
    the 100 TB analog of a dry run.

    Two tiers, matched to what each check actually costs:

    * **exact** — uniqueness. Sampling keys cannot see duplicates
      (a dup pair survives a p-sample with probability p²), but the
      dup-key scan only reads the KEY column — cheap at any scale —
      so it runs exact over the full table.
    * **sampled** — the five conformance checks and referential,
      counted by the pass's own core on the sample
      (``validate_scope(sample, ..., emit=False)``: its narrow pass,
      which reads only ``spans.kind/media_ref/offset``, and its
      referential shape), so a sampled count means what the pass's
      does. Per-check verdict is ``fail`` if the confidence interval's
      floor clears the gate, ``pass`` if its ceiling stays under, else
      ``inconclusive`` (run the full pass / raise the fraction). For
      zero-tolerance gates any sampled sighting is definitive: the
      sample is a subset of the table, so an observed orphan proves a
      violation exists — no statistics needed for ``fail``.

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
    if mode not in ("rows", "partitions"):
        raise ValueError(f"mode must be 'rows' or 'partitions': {mode!r}")

    # --- exact narrow tier: dup keys over the full key column ---
    n_total = docs.count()
    dups = duplicate_keys(docs, cfg.unique_key)
    n_dup_docs = int(
        dups.agg(F.coalesce(F.sum("dup_cnt"), F.lit(0))).first()[0]
    )

    # --- sampled tier: the pass's core on the sample ---
    n_clusters = None
    if mode == "partitions":
        all_pids = sorted(
            r.partition_id
            for r in docs.select("partition_id").distinct().collect()
        )
        n_clusters = len(all_pids)
        m = max(1, math.ceil(fraction * n_clusters))
        chosen = sorted(
            all_pids,
            key=lambda p: hashlib.md5(f"{seed}:{p}".encode()).hexdigest(),
        )[:m]
        sample = docs.filter(F.col("partition_id").isin(chosen))
    else:
        sample = docs.sample(fraction=fraction, seed=seed)
    ref = (
        ReferentialCheck(spark, catalog, catalog_size_hint, cfg.salt_buckets)
        if catalog is not None
        else None
    )
    res = validate_scope(sample, ref, cfg, emit=False)
    # per-partition counts either way (metadata scale): rows mode sums
    # them, partitions mode needs the per-cluster counts for the CI
    parts = res.partitions if res is not None else {}
    ns = [parts[p].n_rows for p in parts]
    per_check = {
        name: [parts[p][name] for p in parts] for name in CONF_CHECKS
    }
    if ref is not None:
        per_check["referential"] = [
            res.grid[p]["referential"] for p in parts
        ]
    n_sample = sum(ns)

    gates = check_gates(cfg)
    exact_rate = n_dup_docs / n_total if n_total else 0.0
    rows = [
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
    ]
    tier = "sampled" if mode == "rows" else "sampled_partitions"
    for name, xs in per_check.items():
        x = sum(xs)
        if mode == "rows":
            lo, hi = _wilson(x, n_sample, confidence_z)
        else:
            lo, hi = _cluster_ci(xs, ns, n_clusters, confidence_z)
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
