"""Physical-plan regression pins: the plan properties PLANS.md claims
must stay true (column pruning, predicate pushdown, broadcast joins,
distributed top-k) — a silent optimizer regression fails here, not in
a 100 TB run."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest

from anomalydetection_spark.queries import QUERIES

SF_DIR = "/root/testdata/sf0.01"


def _plan(spark, name: str) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        QUERIES[name](spark, SF_DIR).explain("formatted")
    return buf.getvalue()


def test_uniqueness_scan_is_column_pruned(spark):
    plan = _plan(spark, "uniqueness_dup_keys")
    # the key-column scan must read ONLY l_orderkey
    assert "ReadSchema: struct<l_orderkey:bigint>" in plan
    assert "partial_count" in plan  # map-side combine before the shuffle


def test_pricing_summary_pushdown(spark):
    plan = _plan(spark, "pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_revenue_broadcasts_dimensions(spark):
    plan = _plan(spark, "revenue_by_nation")
    assert plan.count("BroadcastHashJoin") >= 2  # customer + nation
    assert "SortMergeJoin" not in plan


def test_embedding_neardup_no_global_window(spark):
    plan = _plan(spark, "embedding_neardup")
    assert "TakeOrderedAndProject" in plan


def test_referential_orphans_anti_join_broadcast(spark):
    plan = _plan(spark, "referential_orphans")
    assert "BroadcastHashJoin LeftAnti" in plan
    assert "PushedFilters: [IsNotNull(c_custkey), LessThan(c_custkey,100)]" in plan


def test_ann_topk_is_rank_limited(spark):
    """WindowGroupLimit = per-partition partial top-k before the rank
    exchange (Spark's rank-limit pushdown)."""
    plan = _plan(spark, "ann_lsh_bucketed")
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan


def test_rowlocal_violations_scan_never_shuffles(spark, docs, catalog):
    """The wide violations scan with a broadcastable catalog must be
    shuffle-free: referential is a row-local Arrow membership UDF and
    uniqueness attaches via broadcast — a SortMergeJoin or a non-
    broadcast Exchange in this DAG means the wide scope is being
    shuffled again (the round-1 scaling killer)."""
    from anomalydetection_spark.operators.referential import (
        collect_catalog_keys,
        orphan_refs_rowlocal_udf,
    )
    from anomalydetection_spark.operators.uniqueness import duplicate_keys
    from anomalydetection_spark.plans.pipeline import _all_violations

    dups = duplicate_keys(docs, "doc_id")
    udf = orphan_refs_rowlocal_udf(spark, collect_catalog_keys(catalog))
    viol = _all_violations(docs, dups, None, orphan_udf=udf)
    buf = io.StringIO()
    with redirect_stdout(buf):
        viol.explain("formatted")
    plan = buf.getvalue()
    assert "ArrowEvalPython" in plan
    assert "SortMergeJoin" not in plan
    # the only exchanges allowed feed the dup-key broadcast side
    import re

    non_broadcast = [
        ln for ln in plan.splitlines()
        if re.search(r"Exchange (?!.*EXECUTOR_BROADCAST)", ln)
        and "Exchange" in ln and "BroadcastExchange" not in ln
        and "hashpartitioning" in ln
    ]
    # dup-key aggregation legitimately shuffles its narrow key column;
    # nothing else may
    assert len(non_broadcast) <= 1, non_broadcast


def test_profile_default_plan_single_pass(spark):
    """The default (HLL) profiler plan must stay scan → partial agg →
    ONE exchange → final agg → stack: no Expand (the multi-column
    exact-distinct rewrite that replicates every scan row per column)."""
    from anomalydetection_spark.operators.profile import profile_table

    df = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    buf = io.StringIO()
    with redirect_stdout(buf):
        profile_table(df).explain("formatted")
    plan = buf.getvalue()
    assert "Expand" not in plan
    assert plan.count("Exchange") <= 2  # plan tree + details listing
    assert "partial_" in plan


def test_capped_violations_single_extra_exchange(spark, docs, catalog):
    """Exemplar capping may add exactly ONE non-broadcast exchange over
    the violation stream (the window on (check, partition_id)); the
    wide scope itself must still reach the window without shuffling,
    and all count columns must ride the same window exchange."""
    from anomalydetection_spark.operators.referential import (
        collect_catalog_keys,
        orphan_refs_rowlocal_udf,
    )
    from anomalydetection_spark.operators.uniqueness import duplicate_keys
    from anomalydetection_spark.plans.pipeline import (
        _all_violations,
        _cap_violations,
    )

    dups = duplicate_keys(docs, "doc_id")
    udf = orphan_refs_rowlocal_udf(spark, collect_catalog_keys(catalog))
    viol = _cap_violations(
        _all_violations(docs, dups, None, orphan_udf=udf), 3
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        viol.explain("formatted")
    plan = buf.getvalue()
    non_broadcast = [
        ln for ln in plan.splitlines()
        if "Exchange" in ln and "BroadcastExchange" not in ln
        and "hashpartitioning" in ln
    ]
    # dup-key agg shuffle (narrow) + ONE window shuffle; nothing else
    assert len(non_broadcast) <= 2, non_broadcast
    window_lines = [ln for ln in plan.splitlines() if "Window" in ln]
    assert window_lines, "expected a Window operator in the capped plan"


def test_quality_filter_stays_jvm_side_single_agg(spark):
    """All 8 Gopher/C4 rules are row-local Column math: no Python /
    Arrow stage anywhere, one partial-agg exchange to the source
    rollup, and the scan reads only (source, text)."""
    plan = _plan(spark, "quality_filter")
    for marker in ("ArrowEvalPython", "FlatMapGroupsInPandas",
                   "MapInPandas", "BatchEvalPython"):
        assert marker not in plan, marker
    assert "partial_" in plan  # map-side combine
    assert "ReadSchema: struct<text:string,source:string>" in plan \
        or "ReadSchema: struct<source:string,text:string>" in plan


def test_duplicated_text_fraction_no_pair_blowup(spark):
    """The Lee-et-al metric never materializes doc pairs: no cartesian
    / nested-loop join; gram counting is a hash aggregation."""
    plan = _plan(spark, "duplicated_text_fraction")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_" in plan


def test_element_contract_rules_single_agg_no_explode(spark):
    """Nested ElementRules compile into the one contract agg pass:
    no Generate/Explode node, no Python stage."""
    from anomalydetection_spark.operators.contract import (
        contract_from_dict,
        contract_violation_counts,
    )

    df = spark.createDataFrame(
        [(1, [("text", "hi", 0)])],
        "id bigint,"
        " spans array<struct<kind string, text string, offset int>>",
    )
    c = contract_from_dict({
        "columns": {"id": {"max_null_rate": 0}},
        "elements": {
            "spans.kind": {"allowed": ["text"]},
            "spans.text": {"max_null_rate": 0.5},
        },
    })
    buf = io.StringIO()
    with redirect_stdout(buf):
        contract_violation_counts(df, c).explain("formatted")
    plan = buf.getvalue()
    # element counting happens INSIDE the partial agg functions
    # (size(filter(...)) under partial_sum), not via a pre-agg explode:
    # the only Generate in the plan is the stack() reshape ABOVE the
    # final HashAggregate, operating on the single aggregated row
    assert "size(filter(spans" in plan
    assert "partial_sum(CASE WHEN isnull(spans" in plan
    tree = plan.split("(1) Scan")[0]
    agg_pos = tree.find("HashAggregate (2)")
    gen_pos = tree.find("Generate")
    assert agg_pos != -1 and gen_pos != -1
    assert gen_pos < agg_pos  # Generate sits above the agg, never below
    assert "ArrowEvalPython" not in plan
    # one aggregation boundary (partial -> final single row)
    assert plan.count("Exchange (") <= 1


def test_event_funnel_single_shuffle_no_join(spark):
    """The funnel is ONE hash aggregate over user_id + a scalar rollup:
    no join, no window sort over the full table."""
    plan = _plan(spark, "event_funnel")
    assert "Join" not in plan
    assert "Window" not in plan
    # exactly one row-data exchange (user_id) + the final single-
    # partition rollup exchange (4 scalar counters)
    assert plan.count("hashpartitioning(") == 1
    assert "SinglePartition" in plan


def test_seasonal_anomaly_broadcasts_baseline(spark):
    """The 24-slot seasonal baseline joins back as a broadcast —
    never a sort-merge of the hourly series."""
    plan = _plan(spark, "seasonal_anomaly")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_cohort_retention_no_sort_merge(spark):
    """Cohort sizes and activity join on aggregate outputs (tiny);
    AQE/broadcast keeps row data out of sort-merge joins."""
    plan = _plan(spark, "cohort_retention")
    assert "ReadSchema: struct<ts:timestamp_ntz,user_id:bigint>" in plan


def test_profile_partials_bounded_exchanges_pruned_scan(spark):
    """Incremental-profile partials + merge: scan → partial agg → one
    exchange on the partition key → stack reshape → one exchange on
    column — no Expand (no per-column row replication), and the scan
    reads only the profiled columns."""
    from anomalydetection_spark.operators.incremental_profile import (
        merge_partials,
        profile_partials,
    )

    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    p = profile_partials(
        df, "l_returnflag", ["l_quantity", "l_extendedprice"],
        with_distinct=False,
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        merge_partials(p, with_distinct=False).explain("formatted")
    plan = buf.getvalue()
    assert "Expand" not in plan
    assert plan.count("Exchange") <= 4  # 2 logical (tree + details)
    assert "partial_" in plan
    rs = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert rs and "l_orderkey" not in rs[0] and "l_shipdate" not in rs[0]
    for c in ("l_returnflag", "l_quantity", "l_extendedprice"):
        assert c in rs[0]


def test_staleness_scan_pruned_and_broadcast(spark):
    """Freshness check: scan reads only (ts, event_type); the 1-row
    frontier attaches as a broadcast, never a sort-merge."""
    plan = _plan(spark, "staleness_by_type")
    rs = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert rs
    for ln in rs:
        assert "event_id" not in ln and "props" not in ln and "value" not in ln
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_column_entropy_single_count_shuffle_pruned_scan(spark):
    """Entropy profile: ONE exact-count exchange over (col, value) with
    map-side partial_count, then a per-col fold over <= |values| exact
    longs; the scan reads only the four profiled source columns."""
    plan = _plan(spark, "column_entropy")
    assert plan.count("Exchange") <= 4  # 2 logical: counts + tiny fold
    assert "partial_count" in plan
    rs = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert len(rs) == 1
    assert "l_extendedprice" not in rs[0] and "l_orderkey" not in rs[0]


def test_mutual_information_one_joint_shuffle(spark):
    """MI: the only full-data exchange is the joint-count groupBy
    (map-side combined); marginals/entropies ride window sums over the
    tiny joint table repartitioned by pair."""
    plan = _plan(spark, "mutual_information")
    assert "partial_count" in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    # 2 logical: joint-count exchange + per-pair tiny repartition
    assert plan.count("Exchange") <= 4


def test_order_reconciliation_aggregates_before_join(spark):
    """Conservation check: lineitem folds to per-order partial sums
    BEFORE the join (map-side combine), so the join carries |orders|
    rows, not |lineitem|; both scans are column-pruned."""
    plan = _plan(spark, "order_reconciliation")
    assert "partial_sum" in plan
    rs = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert len(rs) == 2
    for ln in rs:
        assert "comment" not in ln and "l_shipdate" not in ln
    # the per-order aggregate must sit below the join in the plan tree
    assert plan.index("partial_sum") > plan.index("Join")


def test_snapshot_diff_summary_single_join_pass(spark):
    """Snapshot diff telemetry: the full outer join is evaluated ONCE
    (status + column rollups share it via a tag explode), not once per
    rollup branch — at 10^12 keys the join IS the cost."""
    plan = _plan(spark, "snapshot_diff")
    assert plan.count("SortMergeJoin FullOuter") == 1
    assert plan.count("Generate") <= 2  # 1 logical explode, one pass
    assert "partial_count" in plan


def test_segmented_contract_one_grouped_agg_pass(spark):
    """Segment-scoped contract: all rules x all segments in ONE
    grouped agg — map-side partial_sums so only |segments| x |rules|
    rows cross the single exchange; the verdict stack/projection is
    row-local; the scan reads only ruled + segment columns."""
    plan = _plan(spark, "segmented_contract")
    # formatted plans name each node twice (tree + detail): 1 logical
    assert plan.count("Exchange") == 2
    assert "partial_sum" in plan and "partial_count" in plan
    assert "Join" not in plan
    rs = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert len(rs) == 1
    assert "ts" not in rs[0].replace("struct", "") and "session_id" not in rs[0]


def _executed_nodes(spark, after_eid: int) -> tuple[int, list]:
    """(max executionId seen, [(node name, node desc, {metric: value})]
    for every plan node of the executions with id > after_eid) from the
    SQL status store. Watermarking by executionId (monotonic) keeps the
    window correct under the store's retained-executions eviction in a
    long suite run."""
    # the SQL status store updates from the async listener bus — drain
    # it so every execution's metrics are finalized before reading
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    ss = spark._jsparkSession.sharedState().statusStore()
    lst = ss.executionsList()
    max_eid, nodes = after_eid, []
    for i in range(lst.size()):
        eid = lst.apply(i).executionId()
        max_eid = max(max_eid, eid)
        if eid <= after_eid:
            continue
        vals = ss.executionMetrics(eid)
        nit = ss.planGraph(eid).allNodes().iterator()
        while nit.hasNext():
            n = nit.next()
            metrics = {}
            mit = n.metrics().iterator()
            while mit.hasNext():
                m = mit.next()
                v = vals.get(m.accumulatorId())
                if v.isDefined():
                    metrics[m.name()] = str(v.get())
            nodes.append((n.name(), n.desc(), metrics))
    return max_eid, nodes


def _files_read(node) -> int:
    return int(node[2].get("number of files read", "0").replace(",", ""))


def _parquet_files_read(spark, after_eid: int) -> tuple[int, int]:
    """(max executionId seen, Σ 'number of files read' over parquet
    scan nodes of executions with id > after_eid) — counts files
    ACTUALLY read (a cache hit's FileScan subtree reports 0), so
    files_read / n_files_on_disk is the executed scan count. Node names
    are used (not paths — plan-graph descs truncate long pytest tmp
    paths), so the caller must ensure the docs table is the only parquet
    source in the window."""
    max_eid, nodes = _executed_nodes(spark, after_eid)
    return max_eid, sum(
        _files_read(n) for n in nodes if "Scan parquet" in n[0]
    )


def _marker_job_id(spark) -> int:
    """Id of a fresh one-task job. Job ids are sequential across every
    driver thread, so two markers bracket every job started between
    them — helper-thread jobs included."""
    import uuid

    sc = spark.sparkContext
    group = f"job-marker-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-count marker")
    try:
        sc.parallelize([0], 1).count()
    finally:
        sc._jsc.clearJobGroup()
    (job_id,) = sc.statusTracker().getJobIdsForGroup(group)
    return job_id


# Spark jobs of the resumed manifest pass below (an adaptive-execution
# shuffle query counts one job per query stage): the snapshot collect,
# the dup-key, histogram, baseline and catalog reads, the staged wide
# write, and ONE count-grid collect. Verdicts, rollup, drift and manifest
# records are driver-side math over collected rows (with verdicts built
# by Spark joins, windows and unions the same pass ran 35 jobs), so a
# verdict tier that drifts back into Spark jobs fails this pin.
RESUME_PASS_JOBS = 18


def test_validation_pass_scan_budget(spark, tmp_path):
    """The BASELINE.md scan budget, pinned by EXECUTED plans: the
    no-manifest flagship pass scans the docs table exactly 4 times
    (narrow dup-key scan, narrow per-partition totals, drift-histogram
    scan, the one wide violations scan) — a 5th scan sneaking in fails
    here, not in a 100 TB run. The cold-start MANIFEST pass must ALSO
    be exactly 4: the round-5 trim fuses the snapshot-hash scan into
    the concurrent window where it REPLACES the totals scan, so
    recording lineage hashes costs no extra pass over the data.
    A pass resumed from that manifest after two partitions changed
    then starts exactly RESUME_PASS_JOBS Spark jobs."""
    from anomalydetection_spark.fixtures import (
        generate_documents,
        generate_media_catalog,
    )
    from anomalydetection_spark.operators.stats import length_histogram
    from anomalydetection_spark.plans.pipeline import run_validation

    docs_path = str(tmp_path / "scanbudget_docs")
    generate_documents(spark, 20000, n_partitions=8).write.mode(
        "overwrite"
    ).parquet(docs_path)
    cat = generate_media_catalog(spark, 5000)
    docs = spark.read.parquet(docs_path)
    baseline = length_histogram(docs, bins=64, bin_width=8)
    rows = baseline.collect()  # materialize OUTSIDE the budget
    baseline = spark.createDataFrame(rows, baseline.schema)

    import os

    n_files = sum(
        1 for f in os.listdir(docs_path) if f.endswith(".parquet")
    )
    assert n_files > 0

    seen, _ = _parquet_files_read(spark, 0)
    res = run_validation(spark, docs, catalog=cat, baseline_hist=baseline)
    assert res.verdicts.count() > 0 and res.violations.count() > 0
    seen2, files = _parquet_files_read(spark, seen)
    spark.catalog.clearCache()
    assert files == 4 * n_files, (
        f"no-manifest pass read {files} docs files = "
        f"{files / n_files:.1f} scans (budget 4)"
    )

    res2 = run_validation(
        spark, docs, catalog=cat, baseline_hist=baseline,
        manifest_dir=str(tmp_path / "m"), run_id="r1",
    )
    assert res2.verdicts.count() > 0
    _, files2 = _parquet_files_read(spark, seen2)
    spark.catalog.clearCache()
    assert files2 == 4 * n_files, (
        f"cold-start manifest pass read {files2} docs files = "
        f"{files2 / n_files:.1f} scans (budget 4: the snapshot-hash "
        "scan must REPLACE the totals scan, not add one)"
    )

    # resume: partitions 2 and 5 change (reversed spans → new hashes)
    from pyspark.sql import functions as F

    v2_path = str(tmp_path / "scanbudget_docs_v2")
    docs.withColumn(
        "spans",
        F.when(
            F.col("partition_id").isin(2, 5), F.reverse("spans")
        ).otherwise(F.col("spans")),
    ).write.parquet(v2_path)
    docs_v2 = spark.read.parquet(v2_path)
    before = _marker_job_id(spark)
    res3 = run_validation(
        spark, docs_v2, catalog=cat, baseline_hist=baseline,
        manifest_dir=str(tmp_path / "m"),
        violations_dir=str(tmp_path / "viol"), run_id="r2",
    )
    n_jobs = _marker_job_id(spark) - before - 1
    spark.catalog.clearCache()
    assert res3.validated_partitions == [2, 5]
    assert n_jobs == RESUME_PASS_JOBS, (
        f"resumed pass ran {n_jobs} Spark jobs (pinned {RESUME_PASS_JOBS})"
    )


# Spark jobs of one stream micro-batch over the fixture docs in a single
# trigger, stream setup (catalog size, key collect) included, per
# referential shape (operators/referential.py): the row-local UDF; the
# probe-side UDF of a catalog beyond the broadcast cap, whose key set is
# the catalog keys the batch's distinct refs name; and the salted
# anti-join fallback, which also pays the probe-side guard's count of
# the batch's distinct refs. The micro-batch runs the batch pass's size
# guards: the dup keys (and, salted, the orphan aggregate) are cached
# and counted before the wide write decides whether to broadcast them.
STREAM_BATCH_JOBS = {"udf": 17, "probe": 20, "salted": 24}


@pytest.mark.parametrize("shape", ["udf", "probe", "salted"])
def test_stream_microbatch_job_count(spark, docs, catalog, tmp_path,
                                     monkeypatch, shape):
    """A micro-batch runs the batch pass's validation core: its Spark
    job count is pinned like the resumed pass's, so per-trigger work
    that drifts back in (a catalog re-scan, a second wide scan) fails
    here. The probe-side micro-batch's executed plans hold no
    sort-merge join, and read the catalog's key column exactly once,
    under a broadcast left-semi join."""
    import anomalydetection_spark.operators.referential as R
    from anomalydetection_spark.streaming.incremental import stream_validate

    if shape != "udf":
        monkeypatch.setattr(R, "BROADCAST_MAX_CATALOG_ROWS", 1000)
    if shape == "salted":
        monkeypatch.setattr(R, "PROBE_MAX_DISTINCT_REFS", 0)
    inp = str(tmp_path / "in")
    docs.coalesce(1).write.parquet(inp)
    seen, _ = _executed_nodes(spark, 0)
    before = _marker_job_id(spark)
    q = stream_validate(
        spark, inp, str(tmp_path / "out"), str(tmp_path / "ckpt"),
        catalog=catalog, emit_violations=True,
    )
    q.awaitTermination()
    n_jobs = _marker_job_id(spark) - before - 1
    spark.catalog.clearCache()
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) == 1
    assert n_jobs == STREAM_BATCH_JOBS[shape], (
        f"{shape} micro-batch ran {n_jobs} Spark jobs "
        f"(pinned {STREAM_BATCH_JOBS[shape]})"
    )
    if shape != "probe":
        return
    _, nodes = _executed_nodes(spark, seen)
    assert not [n for n in nodes if "SortMergeJoin" in n[0]]
    key_scans = [
        n for n in nodes
        if "Scan parquet" in n[0]
        and "ReadSchema: struct<media_ref:string>" in n[1]
        and _files_read(n)
    ]
    catalog_files = len(catalog.inputFiles())
    assert sum(map(_files_read, key_scans)) == catalog_files
    assert [n for n in nodes if n[0] == "BroadcastHashJoin"
            and "LeftSemi" in n[1]]
