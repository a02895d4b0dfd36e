"""End-to-end validation pipeline + checkpoint-resume (SURVEY.md §5
items 4-5): golden verdicts on the planted fixture, resume skips
validated partitions, interrupted runs replay idempotently."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from anomalydetection_spark.operators.stats import length_histogram
from anomalydetection_spark.plans.pipeline import run_validation
from anomalydetection_spark.sources.manifest import (
    Manifest,
    partition_snapshots,
)

CHANGED = [2, 5]  # partitions _changed() rewrites


def _changed(docs):
    """``docs`` with every doc id of the CHANGED partitions rewritten."""
    return docs.withColumn(
        "doc_id",
        F.when(
            F.col("partition_id").isin(CHANGED),
            F.concat("doc_id", F.lit("_m")),
        ).otherwise(F.col("doc_id")),
    )


def _version_files(mdir):
    return sorted(f for f in os.listdir(mdir) if f.startswith("v"))


def _records(mdir):
    return {
        pid: (r["snapshot_hash"], r["n_rows"], r["n_violations"], r["verdict"])
        for pid, r in Manifest(mdir).load().items()
    }


def _verdicts9(res):
    return sorted(
        (r.check, r.partition_id if r.partition_id is not None else -1,
         r.n_rows, r.n_violations,
         None if r.violation_rate is None else round(r.violation_rate, 9),
         None if r.score is None else round(r.score, 9), r.verdict)
        for r in res.verdicts.collect()
    )


def test_full_run_verdicts_and_violations(spark, docs, catalog, expected):
    res = run_validation(spark, docs, catalog=catalog)
    checks = {r.check for r in res.verdicts.collect()}
    assert {"uniqueness", "referential", "null_spans", "empty_spans",
            "offset_monotonicity", "null_span_kind", "span_coherence"} <= checks

    v = res.violations.cache()
    uniq_ids = {
        r.doc_id for r in v.filter(F.col("check") == "uniqueness").collect()
    }
    assert uniq_ids == expected["uniqueness"]
    conf_ids = {
        r.doc_id for r in v.filter(F.col("check") == "conformance").collect()
    }
    assert (
        expected["null_spans"] | expected["empty_spans"] | expected["nonmono"]
        | expected["incoherent"]
    ) <= conf_ids
    # violation rows carry the original span sequence verbatim
    jkey = F.coalesce(F.to_json("spans"), F.lit("<null>"))
    orig = docs.select("doc_id", jkey.alias("j")).distinct()
    viol = (
        v.filter(F.col("check") != "uniqueness")
        .select("doc_id", jkey.alias("j"))
        .distinct()
    )
    assert viol.join(orig, ["doc_id", "j"], "left_anti").count() == 0


def test_feedback_flips_verdict_and_updates_manifest(
    spark, docs, catalog, tmp_path
):
    """Mark every uniqueness violation in one partition as a false
    positive → that partition's uniqueness verdict flips to pass,
    other checks/partitions unchanged, manifest metrics updated in
    place without touching snapshot hashes (no re-validation queued)."""
    from anomalydetection_spark.plans.pipeline import revalidate_with_feedback
    from anomalydetection_spark.sources.manifest import Manifest

    mdir = str(tmp_path / "manifest")
    res = run_validation(
        spark, docs, catalog=catalog, manifest_dir=mdir, run_id="r1"
    )
    manifest = Manifest(mdir)
    v_before = {
        (r.check, r.partition_id): r.verdict
        for r in res.verdicts.collect()
        if r.partition_id is not None
    }
    uniq = res.violations.filter(F.col("check") == "uniqueness")
    pid = uniq.select("partition_id").first().partition_id
    fb = uniq.filter(F.col("partition_id") == pid).select(
        "check", "doc_id"
    ).distinct()
    assert fb.count() > 0
    totals = res.verdicts.filter(
        F.col("partition_id").isNotNull()
    ).select("partition_id", "n_rows").distinct()

    res2 = revalidate_with_feedback(
        spark, res.violations, totals, fb,
        manifest=manifest, run_id="fb1", now="1970-01-02T00:00:00Z",
    )
    v_after = {
        (r.check, r.partition_id): r.verdict
        for r in res2.verdicts.collect()
        if r.partition_id is not None
    }
    assert v_before[("uniqueness", pid)] == "fail"
    assert v_after[("uniqueness", pid)] == "pass"
    # every other (check, partition) cell is untouched
    for key, verdict in v_after.items():
        if key != ("uniqueness", pid):
            assert verdict == v_before[key], key
    # violations table keeps the audit trail: rows flagged, not dropped.
    # Feedback is doc-level (check, doc_id) — like the reference's
    # per-text is_anomaly flip — so a dup doc planted in two partitions
    # is marked in both; expected = rows joining the feedback keys.
    flagged = res2.violations
    exp_marked = res.violations.join(fb, ["check", "doc_id"], "left_semi").count()
    assert flagged.filter(~F.col("is_anomaly")).count() == exp_marked
    assert exp_marked >= fb.count()
    assert flagged.count() == res.violations.count()
    # manifest: metrics merged, hash untouched -> nothing pending
    state = manifest.load()
    rec = state[str(pid)]
    assert rec["verdict"] in ("pass", "fail")
    import json

    assert json.loads(rec["metrics_json"])["feedback_run"] == "fb1"
    from anomalydetection_spark.sources.manifest import partition_snapshots

    assert manifest.pending_partitions(partition_snapshots(docs)) == []


def test_rate_threshold_semantics(spark, docs, catalog):
    """Pass/fail applies the configured violation-RATE gates: any
    dup/orphan fails (gates 0.0), conformance tolerates up to
    max_null_rate — planted conformance rates (~0.15-0.5%) pass a 1%
    gate and fail a 0% gate; violation rows are emitted either way."""
    from dataclasses import replace

    from anomalydetection_spark.config import DEFAULT_CONFIG

    lax = run_validation(spark, docs, catalog=catalog)  # defaults: 1%
    by_check = {
        r.check: r
        for r in lax.verdicts.collect()
        if r.partition_id is None
    }
    assert by_check["uniqueness"].verdict == "fail"       # gate 0.0
    assert by_check["referential"].verdict == "fail"      # gate 0.0
    assert by_check["null_spans"].verdict == "pass"       # 0.15% < 1%
    assert by_check["offset_monotonicity"].verdict == "pass"
    assert lax.violations.filter(
        F.col("detail").contains("null_spans")
    ).count() > 0  # rows still emitted for passing checks

    strict = run_validation(
        spark, docs, catalog=catalog,
        cfg=replace(DEFAULT_CONFIG, max_null_rate=0.0, max_type_error_rate=0.0),
    )
    by_check_s = {
        r.check: r
        for r in strict.verdicts.collect()
        if r.partition_id is None
    }
    assert by_check_s["null_spans"].verdict == "fail"
    assert by_check_s["offset_monotonicity"].verdict == "fail"


def test_configurable_unique_key(spark, docs, catalog):
    """cfg.unique_key drives BOTH the dup-key scan and the violation
    attach join — a non-default key must run (an earlier shape
    hardcoded the attach on doc_id and crashed for any other key).
    Keying uniqueness on partition_id makes every multi-row partition
    a 'duplicate': the uniqueness count equals the row count of
    partitions with >1 row."""
    from dataclasses import replace

    from anomalydetection_spark.config import DEFAULT_CONFIG

    res = run_validation(
        spark,
        docs,
        catalog=catalog,
        cfg=replace(DEFAULT_CONFIG, unique_key="partition_id"),
    )
    uniq = [
        r
        for r in res.verdicts.collect()
        if r.check == "uniqueness" and r.partition_id is None
    ]
    expected_dups = (
        docs.groupBy("partition_id")
        .count()
        .filter(F.col("count") > 1)
        .agg(F.sum("count"))
        .first()[0]
    )
    assert uniq and uniq[0].n_violations == expected_dups


def test_two_level_verdict(spark, docs, catalog):
    res = run_validation(spark, docs, catalog=catalog)
    table_rows = [
        r for r in res.verdicts.collect() if r.partition_id is None
    ]
    assert table_rows, "expected table-level rollup rows"
    uniq_global = [r for r in table_rows if r.check == "uniqueness"]
    assert uniq_global and uniq_global[0].verdict == "fail"


def test_drift_stage_in_pipeline(spark, docs, catalog):
    baseline = length_histogram(docs, bins=64, bin_width=8)
    res = run_validation(spark, docs, catalog=catalog, baseline_hist=baseline)
    drift_rows = [
        r for r in res.verdicts.collect() if r.check.startswith("drift_len")
    ]
    assert drift_rows
    # current == baseline ⇒ all drift checks pass
    assert all(r.verdict == "pass" for r in drift_rows)
    # default config: chi2/jsd off → only psi/ks rows
    kinds = {r.check.split("_")[2] for r in drift_rows}
    assert kinds == {"psi", "ks"}


def test_drift_stage_optional_chi2_jsd(spark, docs, catalog):
    import dataclasses

    from anomalydetection_spark.config import DEFAULT_CONFIG

    baseline = length_histogram(docs, bins=64, bin_width=8)
    cfg = dataclasses.replace(
        DEFAULT_CONFIG,
        drift=dataclasses.replace(
            DEFAULT_CONFIG.drift,
            chi2_threshold_global=100.0,
            jsd_threshold_global=0.2,
        ),
    )
    res = run_validation(
        spark, docs, catalog=catalog, baseline_hist=baseline, cfg=cfg
    )
    drift_rows = [
        r for r in res.verdicts.collect() if r.check.startswith("drift_len")
    ]
    kinds = {r.check.split("_")[2] for r in drift_rows}
    assert kinds == {"psi", "ks", "chi2", "jsd"}
    assert all(r.verdict == "pass" for r in drift_rows)  # self vs self


def test_verdicts_identical_across_shuffle_widths(spark, docs, catalog):
    """Verdict rows, every float included, are exactly equal whether the
    pass runs on 1 or 8 shuffle partitions: rates divide integer counts
    and the drift kernel sums collected histograms in bucket order on
    the driver, so no score depends on how Spark split the work."""
    import dataclasses

    from anomalydetection_spark.config import DEFAULT_CONFIG
    from anomalydetection_spark.fixtures import generate_documents

    shifted = generate_documents(
        spark, 4000, seed=43, n_partitions=8, n_media=2000,
        text_mean_len=50.0, text_frac=0.60, plant_violations=False,
    )
    baseline = length_histogram(shifted, bins=64, bin_width=8)
    cfg = dataclasses.replace(
        DEFAULT_CONFIG,
        drift=dataclasses.replace(
            DEFAULT_CONFIG.drift,
            chi2_threshold_global=100.0,
            jsd_threshold_global=0.2,
        ),
    )
    key = "spark.sql.shuffle.partitions"
    width = spark.conf.get(key)
    runs = []
    try:
        for n in ("1", "8"):
            spark.conf.set(key, n)
            res = run_validation(
                spark, docs, catalog=catalog, baseline_hist=baseline, cfg=cfg
            )
            runs.append(sorted(
                res.verdicts.collect(),
                key=lambda r: (r.check, r.partition_id is not None,
                               r.partition_id or 0),
            ))
    finally:
        spark.conf.set(key, width)
    assert runs[0] == runs[1]
    drift = [r for r in runs[0] if r.check.startswith("drift_len")]
    assert {r.check.split("_")[2] for r in drift} == {
        "psi", "ks", "chi2", "jsd",
    }
    assert any(r.score > 0 for r in drift)


def test_resume_skips_validated(spark, docs, catalog, tmp_path):
    """A pass commits exactly one manifest version; a resume with
    nothing pending validates and commits nothing, so an idle polling
    loop does not grow the manifest."""
    mdir = str(tmp_path / "manifest")
    r1 = run_validation(
        spark, docs, catalog=catalog, manifest_dir=mdir, run_id="r1"
    )
    assert len(r1.validated_partitions) > 0
    assert r1.manifest_version == 1
    assert _version_files(mdir) == ["v1.json"]
    r2 = run_validation(
        spark, docs, catalog=catalog, manifest_dir=mdir, run_id="r2"
    )
    assert r2.validated_partitions == []
    assert r2.verdicts.count() == 0
    assert r2.violations.count() == 0
    assert r2.manifest_version == Manifest(mdir).current_version() == 1
    assert _version_files(mdir) == ["v1.json"]
    r3 = run_validation(
        spark, _changed(docs), catalog=catalog, manifest_dir=mdir,
        run_id="r3",
    )
    assert r3.validated_partitions == CHANGED
    assert r3.manifest_version == Manifest(mdir).current_version() == 2
    assert _version_files(mdir) == ["v1.json", "v2.json"]


def test_overlapping_runs_both_commit(spark, docs, catalog, tmp_path,
                                      monkeypatch):
    """Two runs over the same pending set, interleaved so that run A
    starts and commits while run B sits inside its commit: both commit,
    each merged into the latest state, and the final records equal a
    serial run's with no partition lost."""
    changed = _changed(docs)
    serial = str(tmp_path / "serial")
    mdir = str(tmp_path / "manifest")
    for d in (serial, mdir):
        run_validation(spark, docs, catalog=catalog, manifest_dir=d,
                       run_id="r0")
    run_validation(spark, changed, catalog=catalog, manifest_dir=serial,
                   run_id="r1")

    commit = Manifest.commit_validated
    inner = {}

    def commit_b_after_a(self, records, run_id, now):
        if run_id == "B":
            inner["A"] = run_validation(
                spark, changed, catalog=catalog, manifest_dir=mdir,
                run_id="A",
            )
        return commit(self, records, run_id, now)

    monkeypatch.setattr(Manifest, "commit_validated", commit_b_after_a)
    b = run_validation(spark, changed, catalog=catalog, manifest_dir=mdir,
                       run_id="B")
    a = inner["A"]
    assert a.validated_partitions == b.validated_partitions == CHANGED
    assert (a.manifest_version, b.manifest_version) == (2, 3)
    got = _records(mdir)
    assert got == _records(serial)
    assert set(got) == {
        str(r.partition_id) for r in partition_snapshots(changed).collect()
    }
    assert {pid for pid, r in Manifest(mdir).load().items()
            if r["run_id"] == "B"} == {str(p) for p in CHANGED}


def test_crash_before_commit_rerun_matches_clean_run(
    spark, docs, catalog, tmp_path, monkeypatch
):
    """A pass killed after staging its violations and before the
    manifest commit leaves CURRENT unchanged; a re-run under a new
    run_id validates the same pending set and produces the verdict rows
    and staged violation rows of a run that never crashed."""
    changed = _changed(docs)
    crashed, clean = str(tmp_path / "m_crashed"), str(tmp_path / "m_clean")
    vdir = str(tmp_path / "violations")
    for d in (crashed, clean):
        run_validation(spark, docs, catalog=catalog, manifest_dir=d,
                       run_id="r0")
    pending = Manifest(crashed).pending_partitions(
        partition_snapshots(changed)
    )
    assert pending == CHANGED
    with open(os.path.join(crashed, "CURRENT")) as f:
        current = f.read()
    staged_at_crash = []

    def killed(self, records, run_id, now):
        staged_at_crash.extend(os.listdir(vdir))
        raise RuntimeError("killed before the manifest commit")

    monkeypatch.setattr(Manifest, "commit_validated", killed)
    with pytest.raises(RuntimeError, match="killed before"):
        run_validation(spark, changed, catalog=catalog, manifest_dir=crashed,
                       violations_dir=vdir, run_id="dead")
    monkeypatch.undo()
    assert staged_at_crash == ["_staged_dead"]
    with open(os.path.join(crashed, "CURRENT")) as f:
        assert f.read() == current
    assert Manifest(crashed).pending_partitions(
        partition_snapshots(changed)
    ) == pending

    rerun = run_validation(spark, changed, catalog=catalog,
                           manifest_dir=crashed, violations_dir=vdir,
                           run_id="rerun")
    ok = run_validation(spark, changed, catalog=catalog, manifest_dir=clean,
                        violations_dir=str(tmp_path / "violations_clean"),
                        run_id="ok")
    assert rerun.validated_partitions == ok.validated_partitions == pending
    assert _verdicts9(rerun) == _verdicts9(ok)
    assert _records(crashed) == _records(clean)

    def staged(d, run_id):
        rows = spark.read.parquet(os.path.join(d, f"_staged_{run_id}"))
        return sorted(repr(r) for r in rows.collect())

    assert staged(vdir, "rerun") == staged(
        str(tmp_path / "violations_clean"), "ok"
    )


def test_resume_after_partial_commit(spark, docs, catalog, tmp_path):
    """Partial manifest state (some partitions committed, rest not) →
    next run validates exactly the remainder, and its verdicts for
    those partitions equal a from-scratch run's (idempotent replay)."""
    from anomalydetection_spark.sources.manifest import (
        Manifest,
        partition_snapshots,
    )

    mdir = str(tmp_path / "manifest")
    snaps = partition_snapshots(docs).collect()
    done = [r for r in snaps if r.partition_id % 2 == 0]
    Manifest(mdir).commit_validated(
        [
            {
                "partition_id": r.partition_id,
                "snapshot_hash": r.snapshot_hash,
                "n_rows": r.n_rows,
                "verdict": "pass",
            }
            for r in done
        ],
        "dead_run", "t0",
    )
    rest = sorted(r.partition_id for r in snaps if r.partition_id % 2 == 1)
    r2 = run_validation(
        spark, docs, catalog=catalog, manifest_dir=mdir, run_id="r2"
    )
    assert r2.validated_partitions == rest

    full = run_validation(spark, docs, catalog=catalog)
    for check in ("uniqueness", "null_spans"):
        a = {
            (r.partition_id, r.n_violations, r.verdict)
            for r in full.verdicts.collect()
            if r.check == check and r.partition_id in rest
        }
        b = {
            (r.partition_id, r.n_violations, r.verdict)
            for r in r2.verdicts.collect()
            if r.check == check and r.partition_id is not None
        }
        assert a == b


def test_staged_violations_published(spark, docs, catalog, tmp_path):
    vdir = str(tmp_path / "violations")
    mdir = str(tmp_path / "manifest")
    res = run_validation(
        spark, docs, catalog=catalog, manifest_dir=mdir,
        violations_dir=vdir, run_id="r1",
    )
    assert res.manifest_version >= 1
    assert res.violations.count() > 0


def _referential_shape(caplog, fn):
    """``fn()``'s result and the one referential shape it logged."""
    import logging

    from anomalydetection_spark.operators import referential

    caplog.clear()
    with caplog.at_level(logging.INFO, logger=referential.__name__):
        out = fn()
    (shape,) = [
        r.getMessage() for r in caplog.records
        if r.name == referential.__name__
    ]
    return out, shape


def test_rowlocal_and_join_referential_paths_agree(
    spark, docs, catalog, monkeypatch, caplog
):
    """The three referential shapes must emit identical violation rows
    (spans included) and verdicts on the fixture, which holds duplicate
    doc_ids with differing spans, null refs and the hot ref: the
    row-local UDF over the whole catalog; the probe-side UDF over the
    catalog keys the scope names, forced by a broadcast cap below the
    catalog's size; and the salted anti-join with its Bloom prefilter,
    forced by lying about the catalog size with a distinct-ref guard of
    0. Each pass logs the shape it took."""
    import re

    import anomalydetection_spark.operators.referential as R

    run = lambda **kw: _referential_shape(  # noqa: E731
        caplog, lambda: run_validation(spark, docs, catalog=catalog, **kw)
    )
    rowlocal, shape = run()
    assert shape == "referential: row-local"
    monkeypatch.setattr(R, "BROADCAST_MAX_CATALOG_ROWS", catalog.count() - 1)
    probe, shape = run()
    present, distinct = map(
        int, re.fullmatch(
            r"referential: probe-side \((\d+) of (\d+) refs\)", shape
        ).groups()
    )
    assert 0 < present < distinct
    monkeypatch.setattr(R, "PROBE_MAX_DISTINCT_REFS", 0)
    legacy, shape = run(catalog_size_hint=10_000_000)
    assert shape == "referential: salted+bloom"

    def viol_key(res):
        return sorted(
            (r.check, r.doc_id, r.detail, str(r.score), str(r.spans))
            for r in res.violations.collect()
        )

    assert any(r[0] == "referential" for r in viol_key(rowlocal))
    assert viol_key(rowlocal) == viol_key(probe) == viol_key(legacy)
    verd = lambda res: sorted(
        (r.check, str(r.partition_id), str(r.n_violations), r.verdict)
        for r in res.verdicts.collect()
    )
    assert verd(rowlocal) == verd(probe) == verd(legacy)


def test_driver_grid_matches_count_grid(spark, docs, catalog, monkeypatch):
    """The pass's verdict grid is driver math over the narrow pass's
    collected rows; it equals ``_count_grid`` over the full violation
    rows on the uncapped path, on the exemplar-capped path (whose rows
    are a subset) and when the dup keys and orphan groups exceed the
    broadcast cap and attach through a cached shuffle join — which also
    writes the same rows."""
    import dataclasses

    import anomalydetection_spark.plans.pipeline as P
    from anomalydetection_spark.config import DEFAULT_CONFIG
    from anomalydetection_spark.operators.referential import ReferentialCheck

    ref = ReferentialCheck(spark, catalog)

    def grid(res):
        return {
            p: {k: v for k, v in g.items() if k != "partition_id" and v}
            for p, g in res.items()
        }

    def rows(res):
        return sorted(map(str, res.violations.collect()))

    full = P.validate_scope(docs, ref)
    want = grid(P._count_grid(full.violations))
    assert want and grid(full.grid) == want
    capped = P.validate_scope(
        docs, ref,
        dataclasses.replace(DEFAULT_CONFIG, max_violation_exemplars=2),
    )
    assert grid(capped.grid) == want
    assert capped.violations.count() < full.violations.count()
    monkeypatch.setattr(P, "BROADCAST_MAX_CATALOG_ROWS", 0)
    beyond = P.validate_scope(docs, ref)
    assert grid(beyond.grid) == want
    assert rows(beyond) == rows(full)


def test_exemplar_cap_exact_verdicts_smaller_sink(spark, docs, catalog):
    """max_violation_exemplars: verdict rows are IDENTICAL to the
    uncapped run (counts come from window aggregates, not row counts),
    the violations sink shrinks to <= k rows per (check, partition),
    keeps the uncapped schema, and every emitted exemplar is a genuine
    violation row from the uncapped set."""
    import dataclasses

    from anomalydetection_spark.config import DEFAULT_CONFIG

    k = 2
    capped_cfg = dataclasses.replace(
        DEFAULT_CONFIG, max_violation_exemplars=k
    )
    full = run_validation(spark, docs, catalog=catalog)
    capped = run_validation(spark, docs, catalog=catalog, cfg=capped_cfg)

    vf = set(map(tuple, full.verdicts.collect()))
    vc = set(map(tuple, capped.verdicts.collect()))
    assert vf == vc

    assert capped.violations.schema == full.violations.schema
    per_group = (
        capped.violations.groupBy("check", "partition_id")
        .count()
        .collect()
    )
    assert per_group and all(r["count"] <= k for r in per_group)
    assert capped.violations.count() < full.violations.count()
    # exemplars are a subset of the real violation rows
    cols = ["check", "partition_id", "doc_id", "detail"]
    extra = capped.violations.select(cols).join(
        full.violations.select(cols), cols, "left_anti"
    )
    assert extra.count() == 0
    # every non-empty (check, partition) group keeps >=1 exemplar
    gf = {(r.check, r.partition_id)
          for r in full.violations.select("check", "partition_id").distinct().collect()}
    gc = {(r.check, r.partition_id) for r in per_group}
    assert gf == gc


def test_preflight_estimate(spark, docs, catalog, expected):
    """Sampled pre-flight: exact uniqueness tier matches the planted
    dup count; sampled CIs cover the true wide-check rates; verdict
    logic (pass / fail / inconclusive) follows the gate vs interval."""
    from anomalydetection_spark.plans.pipeline import preflight_estimate

    pf = preflight_estimate(
        spark, docs, catalog=catalog, fraction=0.25, seed=7
    )
    rows = {r.check: r for r in pf.collect()}
    n_total = docs.count()

    # exact tier: uniqueness counts every doc in a dup group
    u = rows["uniqueness"]
    assert u.tier == "exact"
    assert u.n_evaluated == n_total
    assert u.n_violations == 2 * len(expected["uniqueness"])
    assert u.verdict == "fail"                    # gate 0.0, dups planted

    # sampled tier covers every wide check + referential
    for name in ("null_spans", "empty_spans", "offset_monotonicity",
                 "null_span_kind", "span_coherence", "referential"):
        r = rows[name]
        assert r.tier == "sampled"
        assert 0.0 <= r.ci_lo <= r.rate <= r.ci_hi <= 1.0

    # true doc-level rates must fall inside the 99% CI (planted rates,
    # n≈1000 sample → comfortably inside for all five families)
    true_rates = {
        "null_spans": len(expected["null_spans"]) / n_total,
        "empty_spans": len(expected["empty_spans"]) / n_total,
        "offset_monotonicity": len(expected["nonmono"]) / n_total,
        "span_coherence": len(expected["incoherent"]) / n_total,
    }
    for name, t in true_rates.items():
        assert rows[name].ci_lo <= t <= rows[name].ci_hi, name

    # zero-tolerance sighting rule: planted orphans exist → fail
    assert rows["referential"].verdict == "fail"

    # determinism
    pf2 = preflight_estimate(
        spark, docs, catalog=catalog, fraction=0.25, seed=7
    )
    assert sorted(map(tuple, pf2.collect())) == sorted(map(tuple, pf.collect()))


def test_preflight_null_key_part_is_no_duplicate(spark):
    """A composite key with a null part equals no other key: two
    ("a", null) rows are not duplicates, in the pass or in the
    pre-flight's exact tier, so both count the two ("b", "x") rows."""
    import dataclasses

    from anomalydetection_spark.config import DEFAULT_CONFIG
    from anomalydetection_spark.plans.pipeline import preflight_estimate

    spans = [("text", "hi", None, 0)]
    docs = spark.createDataFrame(
        [("a", None, spans, 0), ("a", None, spans, 0),
         ("b", "x", spans, 0), ("b", "x", spans, 1)],
        "doc_id string, src string, spans array<struct<kind:string,"
        "text:string,media_ref:string,offset:int>>, partition_id int",
    )
    cfg = dataclasses.replace(DEFAULT_CONFIG, unique_key=["doc_id", "src"])
    (table,) = [
        r for r in run_validation(spark, docs, cfg=cfg).verdicts.collect()
        if r.check == "uniqueness" and r.partition_id is None
    ]
    pf = {
        r.check: r
        for r in preflight_estimate(spark, docs, fraction=1.0, cfg=cfg)
        .collect()
    }
    assert pf["uniqueness"].n_violations == table.n_violations == 2


def test_preflight_partition_mode(spark, docs, catalog, expected):
    """Cluster-sampled pre-flight: the plan prunes to the chosen
    partition set (the scale point — unsampled files never open), the
    cluster-variance CI covers the true rates, and fraction=1 collapses
    to the exact full-table rates (finite-population correction)."""
    from anomalydetection_spark.plans.pipeline import preflight_estimate

    pf = preflight_estimate(
        spark, docs, catalog=catalog, fraction=0.5, seed=11,
        mode="partitions",
    )
    rows = {r.check: r for r in pf.collect()}
    n_total = docs.count()
    assert rows["null_spans"].tier == "sampled_partitions"
    # sampled half the clusters: evaluated count is a strict subset
    assert 0 < rows["null_spans"].n_evaluated < n_total
    for name, key in (("null_spans", "null_spans"),
                      ("span_coherence", "incoherent")):
        t = len(expected[key]) / n_total
        r = rows[name]
        assert r.ci_lo <= t <= r.ci_hi, (name, t, r.ci_lo, r.ci_hi)
    assert rows["referential"].verdict == "fail"  # sighting rule

    # fraction=1 → every cluster sampled → fpc zeroes the variance
    full = preflight_estimate(
        spark, docs, catalog=catalog, fraction=1.0, mode="partitions"
    )
    frows = {r.check: r for r in full.collect()}
    ns = frows["null_spans"]
    assert ns.n_evaluated == n_total
    assert abs(ns.ci_hi - ns.ci_lo) < 1e-12
    assert ns.n_violations == len(expected["null_spans"])


def test_partitioned_layout_equivalence(spark, docs, catalog, tmp_path):
    """The pipeline produces identical verdicts when the table is laid
    out hive-partitioned by partition_id (directory per partition — the
    closest flat-parquet analog of the Iceberg layout; partition-column
    values come from dir names and type inference, and partition
    pruning becomes file pruning)."""
    pdir = str(tmp_path / "docs_partitioned")
    docs.write.mode("overwrite").partitionBy("partition_id").parquet(pdir)
    pdocs = spark.read.parquet(pdir).select(*docs.columns)

    flat = run_validation(spark, docs, catalog=catalog)
    part = run_validation(spark, pdocs, catalog=catalog)
    key = lambda df: {
        (r.check, r.partition_id): (r.n_rows, r.n_violations, r.verdict)
        for r in df.collect()
    }
    assert key(part.verdicts) == key(flat.verdicts)

    # preflight partition mode on this layout = genuine file pruning
    from anomalydetection_spark.plans.pipeline import preflight_estimate

    pf = preflight_estimate(
        spark, pdocs, catalog=catalog, fraction=0.5, mode="partitions"
    )
    rows = {r.check: r for r in pf.collect()}
    assert rows["uniqueness"].n_violations == \
        flat.verdicts.filter(
            (F.col("check") == "uniqueness") & F.col("partition_id").isNull()
        ).first().n_violations
