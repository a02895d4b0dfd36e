"""CLI runner (anomalydetection_spark/run.py): one batch round end to
end — verdicts/violations written, manifest committed, second round
validates nothing and commits nothing (resume)."""

from __future__ import annotations

import json
import os

from anomalydetection_spark.run import one_round, parse_args


def test_one_round_and_resume(spark, docs_path, catalog, tmp_path):
    cat_path = str(tmp_path / "catalog")
    catalog.write.mode("overwrite").parquet(cat_path)
    out = str(tmp_path / "out")
    mdir = str(tmp_path / "manifest")

    args = parse_args(
        [
            "--docs", docs_path,
            "--catalog", cat_path,
            "--manifest-dir", mdir,
            "--out", out,
        ]
    )
    s1 = one_round(spark, args, "r1")
    assert s1["manifest_version"] >= 1
    assert s1["validated_partitions"]
    assert s1["n_failed_checks"] > 0  # planted violations
    v = spark.read.parquet(s1["verdicts"])
    assert v.count() > 0
    viol = spark.read.parquet(s1["violations"])
    assert viol.count() > 0
    json.dumps(s1)  # summary is JSON-serializable

    # an idle resume commits no manifest version
    versions = sorted(os.listdir(mdir))
    s2 = one_round(spark, args, "r2")
    assert s2["validated_partitions"] == []
    assert s2["manifest_version"] == s1["manifest_version"]
    assert sorted(os.listdir(mdir)) == versions

    # a resume that validates partitions commits exactly one
    from pyspark.sql import functions as F

    changed = str(tmp_path / "changed")
    spark.read.parquet(docs_path).withColumn(
        "doc_id",
        F.when(F.col("partition_id") == 3, F.concat("doc_id", F.lit("_m")))
        .otherwise(F.col("doc_id")),
    ).write.parquet(changed)
    args3 = parse_args(
        ["--docs", changed, "--catalog", cat_path,
         "--manifest-dir", mdir, "--out", out]
    )
    s3 = one_round(spark, args3, "r3")
    assert s3["validated_partitions"] == [3]
    assert s3["manifest_version"] == s1["manifest_version"] + 1
    new = set(os.listdir(mdir)) - set(versions)
    assert new == {f"v{s3['manifest_version']}.json"}


def test_feedback_round_cli(spark, docs_path, catalog, tmp_path):
    """--apply-feedback: mark every uniqueness violation as a false
    positive via the CLI path; uniqueness failures disappear from the
    recomputed verdicts, manifest version advances."""
    from pyspark.sql import functions as F

    from anomalydetection_spark.run import feedback_round

    cat_path = str(tmp_path / "catalog")
    catalog.write.mode("overwrite").parquet(cat_path)
    out = str(tmp_path / "out")
    mdir = str(tmp_path / "manifest")
    args = parse_args(
        ["--docs", docs_path, "--catalog", cat_path,
         "--manifest-dir", mdir, "--out", out]
    )
    s1 = one_round(spark, args, "r1")
    viol = spark.read.parquet(s1["violations"])
    fb_path = str(tmp_path / "fb")
    viol.filter(F.col("check") == "uniqueness").select(
        "check", "doc_id"
    ).distinct().write.parquet(fb_path)

    args2 = parse_args(
        ["--docs", docs_path, "--catalog", cat_path,
         "--manifest-dir", mdir, "--out", out,
         "--apply-feedback", fb_path, "--violations-run", "r1"]
    )
    s3 = feedback_round(spark, args2)
    assert s3["n_feedback_marked"] > 0
    assert s3["manifest_version"] > s1["manifest_version"]
    v = spark.read.parquet(s3["verdicts"])
    uniq_fail = v.filter(
        (F.col("check") == "uniqueness") & (F.col("verdict") == "fail")
    ).count()
    assert uniq_fail == 0
    json.dumps(s3)


def test_read_table_dispatch(spark, docs_path):
    """Paths read as parquet; table identifiers only attempt Iceberg
    when the runtime jar is present (absent in this sandbox)."""
    from anomalydetection_spark.sources.tables import (
        iceberg_available,
        is_table_identifier,
        read_table,
    )

    assert not is_table_identifier(docs_path)
    assert is_table_identifier("prod.validation.documents")
    assert is_table_identifier("db.tbl")
    assert not is_table_identifier("s3://bucket/path")
    # relative data filenames are slash-free and dotted but must stay
    # on the parquet reader even when the Iceberg jar is present
    assert not is_table_identifier("data.parquet")
    assert not is_table_identifier("logs.2024.csv")
    assert not is_table_identifier("a.b.c.d")
    assert read_table(spark, docs_path).count() > 0
    assert iceberg_available(spark) is False  # no jar in this sandbox


def test_profile_flag_writes_column_stats(spark, docs_path, catalog, tmp_path):
    cat_path = str(tmp_path / "catalog")
    catalog.write.mode("overwrite").parquet(cat_path)
    out = str(tmp_path / "out")
    args = parse_args(
        ["--docs", docs_path, "--catalog", cat_path, "--out", out,
         "--profile"]
    )
    s = one_round(spark, args, "r1")
    prof = spark.read.parquet(s["profile"])
    cols = {r.column for r in prof.select("column").distinct().collect()}
    assert {"doc_id", "spans", "partition_id"} <= cols
    rows = {(r.column, r.metric): r.value for r in prof.collect()}
    assert rows[("doc_id", "n_rows")] > 0
    assert ("spans", "avg_size") in rows


def test_exemplar_cap_flag(spark, docs_path, catalog, tmp_path):
    """--max-violation-exemplars K caps the written violations per
    (check, partition) while the verdicts parquet matches an uncapped
    round exactly."""
    from pyspark.sql import functions as F

    cat_path = str(tmp_path / "catalog")
    catalog.write.mode("overwrite").parquet(cat_path)

    base_args = [
        "--docs", docs_path, "--catalog", cat_path,
        "--out", str(tmp_path / "out_full"),
    ]
    s_full = one_round(spark, parse_args(base_args), "rf")
    cap_args = [
        "--docs", docs_path, "--catalog", cat_path,
        "--out", str(tmp_path / "out_cap"),
        "--max-violation-exemplars", "1",
    ]
    s_cap = one_round(spark, parse_args(cap_args), "rc")

    vf = set(map(tuple, spark.read.parquet(s_full["verdicts"]).collect()))
    vc = set(map(tuple, spark.read.parquet(s_cap["verdicts"]).collect()))
    assert vf == vc

    capped = spark.read.parquet(s_cap["violations"])
    assert capped.groupBy("check", "partition_id").count().agg(
        F.max("count")
    ).first()[0] == 1
    assert capped.count() < spark.read.parquet(s_full["violations"]).count()


def test_preflight_estimate_cli_path(spark, docs_path, catalog, tmp_path, expected):
    """--preflight's core (preflight_estimate on CLI-read tables):
    exact uniqueness matches the planted count, sampled checks carry
    CIs, zero-tolerance referential fails on a planted-orphan sample."""
    from anomalydetection_spark.plans.pipeline import preflight_estimate
    from anomalydetection_spark.sources.tables import read_table

    docs = read_table(spark, docs_path)
    pf = preflight_estimate(spark, docs, catalog=catalog, fraction=0.3, seed=3)
    rows = {r.check: r for r in pf.collect()}
    assert rows["uniqueness"].n_violations == 2 * len(expected["uniqueness"])
    assert rows["uniqueness"].verdict == "fail"
    assert {r.tier for n, r in rows.items() if n != "uniqueness"} == {"sampled"}
    assert rows["referential"].verdict == "fail"
    assert all(r.ci_lo <= r.rate <= r.ci_hi for r in rows.values())


def test_config_file_round(spark, docs_path, catalog, tmp_path):
    """--config JSON drives thresholds AND a declarative contract:
    tightened gates flip conformance checks to fail; contract verdict
    rows (including a cross-column expression rule) appear; unknown
    keys fail loudly."""
    import json as _json

    import pytest as _pytest

    cat_path = str(tmp_path / "catalog")
    catalog.write.mode("overwrite").parquet(cat_path)
    cfg_path = str(tmp_path / "cfg.json")
    with open(cfg_path, "w") as f:
        _json.dump({
            "validation": {
                "max_null_rate": 0.0, "max_type_error_rate": 0.0,
                "drift": {"psi_threshold_global": 0.05},
            },
            "contract": {
                "columns": {
                    "doc_id": {"dtype": "string", "max_null_rate": 0.0},
                    "nosuch": {"dtype": "bigint"},
                },
                "expressions": {
                    "has_partition": {"expr": "partition_id >= 0"},
                },
            },
        }, f)

    out = str(tmp_path / "out")
    s = one_round(
        spark,
        parse_args(["--docs", docs_path, "--catalog", cat_path,
                    "--out", out, "--config", cfg_path]),
        "rcfg",
    )
    v = spark.read.parquet(s["verdicts"])
    from pyspark.sql import functions as F

    by = {r.check: r.verdict for r in v.filter(
        F.col("partition_id").isNull()).collect()}
    assert by["null_spans"] == "fail"           # 0.0 gate from file
    # contract rows arrive as check:column composites
    assert by["schema:missing_column:nosuch"] == "fail"
    assert by["rule:expr:has_partition:*"] == "pass"

    bad_path = str(tmp_path / "bad.json")
    with open(bad_path, "w") as f:
        _json.dump({"validation": {"max_nul_rate": 0.0}}, f)
    with _pytest.raises(ValueError, match="unknown ValidationConfig"):
        one_round(
            spark,
            parse_args(["--docs", docs_path, "--catalog", cat_path,
                        "--out", out, "--config", bad_path]),
            "rbad",
        )


def test_auto_baseline_lifecycle(spark, docs_path, catalog, tmp_path):
    """--auto-baseline: run 1 bootstraps the stored histogram, run 2
    drift-compares against it (identical data -> drift passes) and
    --refresh-baseline rewrites it; the refreshed baseline equals the
    current histogram."""
    cat_path = str(tmp_path / "catalog")
    catalog.write.mode("overwrite").parquet(cat_path)
    out = str(tmp_path / "out")
    base = ["--docs", docs_path, "--catalog", cat_path, "--out", out,
            "--auto-baseline"]

    s1 = one_round(spark, parse_args(base), "b1")
    assert s1["baseline"] == "bootstrapped"
    v1 = spark.read.parquet(s1["verdicts"])
    assert v1.filter(v1.check.startswith("drift_len")).count() == 0

    s2 = one_round(spark, parse_args(base + ["--refresh-baseline"]), "b2")
    assert s2["baseline"] == "refreshed"
    v2 = spark.read.parquet(s2["verdicts"])
    drift = v2.filter(v2.check.startswith("drift_len")).collect()
    assert drift and all(r.verdict == "pass" for r in drift)

    # stored baseline after refresh == the current histogram of docs
    from anomalydetection_spark.operators.stats import length_histogram

    stored = {
        (r.kind, r.bucket): r["count"]
        for r in spark.read.parquet(os.path.join(out, "baseline")).collect()
    }
    cur = {
        (r.kind, r.bucket): r["count"]
        for r in length_histogram(spark.read.parquet(docs_path)).collect()
    }
    assert stored == cur


def test_hygiene_and_decontamination_flags(spark, docs_path, catalog, tmp_path):
    """--hygiene writes the per-partition PII audit (planted emails in
    a doctored copy show up); --decontaminate-against flags exactly the
    docs sharing a 4-gram of text-span content with the benchmark."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(docs_path)
    # doctor: plant an email into partition 0's first span texts
    planted = docs.withColumn(
        "spans",
        F.when(
            F.col("partition_id") == 0,
            F.transform(
                "spans",
                lambda s: F.struct(
                    s["kind"].alias("kind"),
                    F.when(
                        s["kind"] == "text",
                        F.concat(
                            F.coalesce(s["text"], F.lit("")),
                            F.lit(" ping admin@site.io"),
                        ),
                    ).otherwise(s["text"]).alias("text"),
                    s["media_ref"].alias("media_ref"),
                    s["offset"].alias("offset"),
                ),
            ),
        ).otherwise(F.col("spans")),
    )
    docs2 = str(tmp_path / "docs2")
    planted.write.mode("overwrite").parquet(docs2)
    # benchmark: partition 1's docs verbatim → guaranteed overlap
    bench_path = str(tmp_path / "bench")
    docs.filter(F.col("partition_id") == 1).limit(50).write.parquet(
        bench_path
    )
    cat_path = str(tmp_path / "catalog")
    catalog.write.mode("overwrite").parquet(cat_path)
    out = str(tmp_path / "out")

    args = parse_args(
        [
            "--docs", docs2,
            "--catalog", cat_path,
            "--out", out,
            "--hygiene",
            "--decontaminate-against", bench_path,
        ]
    )
    s = one_round(spark, args, "r1")
    hyg = spark.read.parquet(s["hygiene"])
    rows = {r.partition_id: r for r in hyg.collect()}
    assert rows[0].email_hits > 0 and rows[0].pii_doc_rate > 0
    assert all(
        r.email_hits == 0 for p, r in rows.items() if p != 0
    )
    cont = spark.read.parquet(s["contamination"])
    assert cont.count() >= 50  # the benchmark docs themselves overlap
    assert cont.filter(F.col("n_matched_grams") <= 0).count() == 0


def test_dedup_flag_round_trip(spark, docs_path, catalog, tmp_path):
    """--dedup end to end: planted near-dup copies (same span text,
    fresh doc ids) are routed to the duplicate partition with exactly
    one survivor per cluster in kept; cluster stats land in the
    manifest."""
    from pyspark.sql import functions as F

    from anomalydetection_spark.sources.manifest import Manifest

    docs = spark.read.parquet(docs_path)
    # plant: verbatim text copies of 12 docs under fresh ids — each
    # (original, copy) pair is a Jaccard-1.0 near-dup cluster of size 2.
    # "doc..." < "dupcopy..." lexicographically, so keep-min-id always
    # keeps the original.
    originals = (
        docs.filter(
            F.expr("CAST(substring(doc_id, 4) AS BIGINT) % 331 = 5")
            & F.exists(
                "spans",
                lambda s: (s["kind"] == "text") & s["text"].isNotNull(),
            )
        )
        .orderBy("doc_id")
        .limit(12)
    )
    copies = originals.withColumn(
        "doc_id", F.concat(F.lit("dupcopy"), F.col("doc_id"))
    )
    planted_ids = [r.doc_id for r in originals.select("doc_id").collect()]
    assert len(planted_ids) == 12
    docs3 = str(tmp_path / "docs_neardup")
    docs.unionByName(copies).write.mode("overwrite").parquet(docs3)

    cat_path = str(tmp_path / "catalog")
    catalog.write.mode("overwrite").parquet(cat_path)
    out = str(tmp_path / "out")
    mdir = str(tmp_path / "manifest")
    args = parse_args(
        [
            "--docs", docs3,
            "--catalog", cat_path,
            "--manifest-dir", mdir,
            "--out", out,
            "--dedup",
        ]
    )
    s = one_round(spark, args, "r1")
    d = s["dedup"]
    assert d["n_clusters"] >= 12
    assert d["n_duplicates"] >= 12
    assert d["n_kept"] + d["n_duplicates"] == spark.read.parquet(docs3).count()
    kept = spark.read.parquet(d["kept"])
    dups = spark.read.parquet(d["duplicates"])
    # keep-min-id: every planted original survives, every copy is routed out
    kept_ids = {r.doc_id for r in kept.select("doc_id").distinct().collect()}
    dup_ids = {r.doc_id for r in dups.select("doc_id").distinct().collect()}
    for oid in planted_ids:
        assert oid in kept_ids, oid
        assert "dupcopy" + oid in dup_ids, oid
        assert "dupcopy" + oid not in kept_ids, oid
    # stats stamped into the manifest and readable back
    st = Manifest(mdir).get_stats("dedup_stats")
    assert st is not None and st["n_clusters"] == d["n_clusters"]
    json.dumps(s)


def test_stream_flag_drains_and_resumes(spark, docs, catalog, tmp_path):
    """--stream: first drain validates the backlog; a second invocation
    with the SAME checkpoint and no new files drains zero batches
    (exactly-once); dropping a new file and re-running validates only
    it."""
    from anomalydetection_spark.run import stream_round

    inp = str(tmp_path / "stream_in")
    docs.limit(500).coalesce(2).write.mode("overwrite").parquet(inp)
    cat_path = str(tmp_path / "catalog")
    catalog.write.mode("overwrite").parquet(cat_path)
    out = str(tmp_path / "out")

    args = parse_args(
        ["--docs", inp, "--catalog", cat_path, "--out", out, "--stream"]
    )
    s1 = stream_round(spark, args)
    assert s1["batches_drained"] >= 1
    assert s1["n_verdict_rows"] > 0
    json.dumps(s1)

    s2 = stream_round(spark, args)  # nothing new -> nothing validated
    assert s2["batches_drained"] == s1["batches_drained"]
    assert s2["n_verdict_rows"] == s1["n_verdict_rows"]

    # new file arrives -> exactly the new data is validated
    extra = str(tmp_path / "extra")
    docs.limit(120).coalesce(1).write.mode("overwrite").parquet(extra)
    import shutil

    nparq = 0
    for fn in os.listdir(extra):
        if fn.endswith(".parquet"):
            shutil.copy(
                os.path.join(extra, fn), os.path.join(inp, f"late_{fn}")
            )
            nparq += 1
    assert nparq == 1
    s3 = stream_round(spark, args)
    assert s3["batches_drained"] > s1["batches_drained"]
    assert s3["n_verdict_rows"] > s1["n_verdict_rows"]


def test_stream_config_applies_to_micro_batches(spark, docs, tmp_path):
    """--stream --config: the micro-batches judge under the file's
    validation config, not the defaults. A backlog with ~10% null-spans
    docs fails the default 1% null gate and passes max_null_rate=1.0;
    a config naming a field the config no longer has fails loudly."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from anomalydetection_spark.run import stream_round

    inp = str(tmp_path / "stream_in")
    docs.limit(500).withColumn(
        "spans",
        F.when(F.abs(F.hash("doc_id")) % 10 == 0, F.lit(None)).otherwise(
            F.col("spans")
        ),
    ).coalesce(1).write.parquet(inp)

    def null_verdicts(name, config=None):
        out = str(tmp_path / name)
        argv = ["--docs", inp, "--out", out, "--stream"]
        if config is not None:
            cfg_path = str(tmp_path / f"{name}.json")
            with open(cfg_path, "w") as f:
                json.dump({"validation": config}, f)
            argv += ["--config", cfg_path]
        stream_round(spark, parse_args(argv))
        v = spark.read.parquet(os.path.join(out, "stream", "verdicts"))
        return {r.verdict for r in v.filter(F.col("check") == "null_spans")
                .collect()}

    assert "fail" in null_verdicts("default")
    assert null_verdicts("lax", {"max_null_rate": 1.0}) == {"pass"}
    with _pytest.raises(ValueError, match="unknown ValidationConfig"):
        null_verdicts("stale", {"truncate_chars": 100})


def test_diff_last_flag_plumbing(spark, docs_path, catalog, tmp_path):
    """--diff-last: second round over a changed snapshot reports the
    verdict diff vs the previous manifest version (semantics unit-
    tested in test_manifest; this pins the CLI plumbing + JSON shape)."""
    from pyspark.sql import functions as F

    cat_path = str(tmp_path / "catalog")
    catalog.write.mode("overwrite").parquet(cat_path)
    out = str(tmp_path / "out")
    mdir = str(tmp_path / "manifest")
    args = parse_args(
        [
            "--docs", docs_path,
            "--catalog", cat_path,
            "--manifest-dir", mdir,
            "--out", out,
            "--diff-last",
        ]
    )
    s1 = one_round(spark, args, "r1")
    assert s1["regressions"] is None  # only one version yet
    # change every partition's snapshot (append one clean doc per
    # partition) so round 2 revalidates and commits version 2
    docs = spark.read.parquet(docs_path)
    extra = docs.groupBy("partition_id").agg(
        F.first("doc_id").alias("doc_id"), F.first("spans").alias("spans")
    ).select(
        F.concat(F.lit("fresh_"), F.col("doc_id")).alias("doc_id"),
        "partition_id", "spans",
    )
    docs2 = str(tmp_path / "docs2")
    docs.unionByName(extra).write.parquet(docs2)
    args2 = parse_args(
        [
            "--docs", docs2,
            "--catalog", cat_path,
            "--manifest-dir", mdir,
            "--out", out,
            "--diff-last",
        ]
    )
    s2 = one_round(spark, args2, "r2")
    assert s2["regressions"] is not None
    import json as _json
    _json.dumps(s2)  # summary stays JSON-serializable
    for r in s2["regressions"]:
        assert r["change"] in (
            "regression", "recovery", "new_partition", "missing_partition"
        )


def test_ann_cli_build_and_query(spark, tmp_path):
    """ann_cli round-trip: build persists a stable quantizer, query
    serves top-k through it, --exact gives the brute-force baseline,
    and IVF hits are a subset of the corpus with sane ranks."""
    from anomalydetection_spark.ann_cli import (
        build_index,
        parse_args as ann_parse,
        query_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    vec_path = str(tmp_path / "vecs")
    emb.write.mode("overwrite").parquet(vec_path)
    from pyspark.sql import functions as F

    q_path = str(tmp_path / "queries")
    emb.filter(F.col("vec_id") < 10).write.mode("overwrite").parquet(
        q_path
    )
    idx = str(tmp_path / "index")
    b = build_index(spark, ann_parse(
        ["build", "--vectors", vec_path, "--index", idx,
         "--centroids", "16", "--refine-iters", "1"]
    ))
    assert b["n_centroids"] == 16 and b["dim"] == 64
    out = str(tmp_path / "hits")
    s = query_index(spark, ann_parse(
        ["query", "--vectors", vec_path, "--queries", q_path,
         "--index", idx, "--out", out, "--k", "3", "--nprobe", "4"]
    ))
    assert s["n_queries"] == 10
    hits = spark.read.parquet(out)
    assert {r.rank for r in hits.collect()} <= {1, 2, 3}
    # exact tier through the same CLI
    out2 = str(tmp_path / "hits_exact")
    s2 = query_index(spark, ann_parse(
        ["query", "--vectors", vec_path, "--queries", q_path,
         "--out", out2, "--k", "3", "--exact"]
    ))
    assert s2["n_queries"] == 10 and s2["n_hits"] == 30


def test_suggest_contract_flag_round_trip(spark, docs_path, catalog, tmp_path):
    """--suggest-contract writes a --config-compatible JSON; a
    validation round configured with it runs, and the suggested
    contract's own rules pass on the table they were derived from."""
    from anomalydetection_spark.operators.contract import (
        contract_from_dict,
        contract_verdicts,
    )
    from anomalydetection_spark.run import suggest_round

    cfg_path = str(tmp_path / "suggested.json")
    args = parse_args(
        ["--docs", docs_path, "--out", str(tmp_path / "o"),
         "--suggest-contract", cfg_path]
    )
    s = suggest_round(spark, args)
    assert s["n_columns"] >= 3
    assert "doc_id" in s["unique_candidates"] or s["unique_candidates"] == []
    with open(cfg_path) as f:
        cfg = json.load(f)
    contract = contract_from_dict(cfg["contract"])
    docs = spark.read.parquet(docs_path)
    verdicts = contract_verdicts(docs, contract).collect()
    assert verdicts
    assert all(r["verdict"] == "pass" for r in verdicts), [
        (r["column"], r["rule"]) for r in verdicts if r["verdict"] != "pass"
    ]

    cat_path = str(tmp_path / "cat")
    catalog.write.mode("overwrite").parquet(cat_path)
    run_args = parse_args(
        ["--docs", docs_path, "--catalog", cat_path,
         "--out", str(tmp_path / "out2"), "--config", cfg_path]
    )
    s2 = one_round(spark, run_args, "r1")
    assert s2["n_failed_checks"] > 0  # planted pipeline violations still fire


def test_incremental_profile_flag(spark, docs_path, tmp_path):
    """--incremental-profile: first run profiles every partition, the
    unchanged re-run scans none, profile + quantiles land under out."""
    from anomalydetection_spark.run import incremental_profile_round

    args = parse_args(
        ["--docs", docs_path, "--out", str(tmp_path / "out"),
         "--manifest-dir", str(tmp_path / "m"), "--incremental-profile"]
    )
    s1 = incremental_profile_round(spark, args, "p1")
    assert s1["state_version"] == 1
    assert s1["profiled_partitions"] and s1["n_reused"] == 0
    prof = spark.read.parquet(s1["profile"])
    cols = {r["column"] for r in prof.collect()}
    assert {"doc_id", "spans", "_text_len"} <= cols
    q = spark.read.parquet(s1["quantiles"]).collect()
    assert {r["q"] for r in q} == {0.5, 0.9, 0.99}
    assert all(r["value"] > 0 for r in q)

    s2 = incremental_profile_round(spark, args, "p2")
    assert s2["profiled_partitions"] == []
    assert s2["n_reused"] == len(s1["profiled_partitions"])
    # unchanged state -> drift report exists and is all-pass
    assert s2["drift_failures"] == []
    # profile round is cross-linked into the validation manifest
    from anomalydetection_spark.sources.manifest import Manifest

    stats = Manifest(str(tmp_path / "m")).get_stats("incremental_profile")
    assert stats["state_version"] == 2
    assert stats["n_drift_failures"] == 0
    d = spark.read.parquet(s2["drift"])
    assert d.count() > 0
    assert d.filter(d.verdict == "fail").count() == 0


def test_stream_profile_flag(spark, docs_path, tmp_path):
    """--stream-profile: drain the docs dir through streaming
    incremental profiling; re-run appends nothing (checkpoint)."""
    from anomalydetection_spark.run import stream_profile_round

    args = parse_args(
        ["--docs", docs_path, "--out", str(tmp_path / "out"),
         "--manifest-dir", str(tmp_path / "m"), "--stream-profile"]
    )
    s1 = stream_profile_round(spark, args, "sp1")
    assert s1["state_version"] >= 1
    assert s1["n_rows"] == spark.read.parquet(docs_path).count()
    prof = spark.read.parquet(s1["profile"])
    assert {"doc_id", "spans"} <= {r["column"] for r in prof.collect()}

    s2 = stream_profile_round(spark, args, "sp2")
    assert s2["state_version"] == s1["state_version"]  # nothing new
    assert s2["n_rows"] == s1["n_rows"]


def test_stream_profile_empty_backlog_reports_empty(spark, docs_path,
                                                    tmp_path):
    """First --stream-profile run with NO pending files (checkpoint
    already covers the dir, fresh state store): no micro-batch commits,
    state stays v0 — the round reports empty instead of crashing in
    IncrementalProfiler.profile."""
    from anomalydetection_spark.run import stream_profile_round

    args1 = parse_args(
        ["--docs", docs_path, "--out", str(tmp_path / "out"),
         "--manifest-dir", str(tmp_path / "m1"), "--stream-profile"]
    )
    s1 = stream_profile_round(spark, args1, "sp1")
    assert s1["state_version"] >= 1

    # same checkpoint (same --out), FRESH state dir -> zero pending
    args2 = parse_args(
        ["--docs", docs_path, "--out", str(tmp_path / "out"),
         "--manifest-dir", str(tmp_path / "m2"), "--stream-profile"]
    )
    s2 = stream_profile_round(spark, args2, "sp2")
    assert s2 == {"run_id": "sp2", "state_version": 0,
                  "profile": None, "n_rows": 0}


def test_snapshot_diff_flag_round_trip(spark, docs_path, tmp_path):
    """--snapshot-diff end to end: a perturbed copy of the docs table
    (drop / add / rewrite spans on disjoint planted key sets) diffs
    against the original with exact status counts, column attribution
    on the spans rewrite, and the summary stamped into the manifest."""
    from pyspark.sql import functions as F

    from anomalydetection_spark.run import snapshot_diff_round
    from anomalydetection_spark.sources.manifest import Manifest

    rid = F.expr("CAST(substring(doc_id, 4) AS BIGINT)")
    # duplicate-free key base: planted dup doc_ids (%97) would break
    # the unique-key contract, so diff over the de-dup'd id space
    docs = spark.read.parquet(docs_path).dropDuplicates(["doc_id"])
    cur_path = str(tmp_path / "current")
    docs.write.parquet(cur_path)
    docs = spark.read.parquet(cur_path)
    prev = (
        docs.where((rid % 41) != 3)                # these read as ADDED
        .withColumn(
            "spans",
            F.when((rid % 43) == 4, F.expr("slice(spans, 1, 1)"))
            .otherwise(F.col("spans")),            # CHANGED via spans
        )
        .unionByName(
            docs.where((rid % 47) == 6).withColumn(
                "doc_id", F.concat(F.lit("gone"), F.col("doc_id"))
            )                                       # these read as REMOVED
        )
    )
    prev_path = str(tmp_path / "prev")
    prev.write.parquet(prev_path)

    out = str(tmp_path / "out")
    mdir = str(tmp_path / "manifest")
    args = parse_args(
        [
            "--docs", cur_path,
            "--out", out,
            "--manifest-dir", mdir,
            "--snapshot-diff", prev_path,
        ]
    )
    s = snapshot_diff_round(spark, args, "sd1")
    n = docs.count()
    exp_added = docs.where((rid % 41) == 3).count()
    exp_removed = docs.where((rid % 47) == 6).count()
    # changed = spans sliced AND not dropped AND actually multi-span
    exp_changed = docs.where(
        ((rid % 41) != 3) & ((rid % 43) == 4) & (F.size("spans") > 1)
    ).count()
    assert s["summary"]["added"] == exp_added
    assert s["summary"]["removed"] == exp_removed
    assert s["summary"]["changed"] == exp_changed
    assert s["summary"]["unchanged"] == n - exp_added - exp_changed
    assert s["summary"]["changed_columns"] == {"spans": exp_changed}
    # written keys match the status counts and carry attribution
    written = spark.read.parquet(s["changed_keys"])
    assert written.count() == exp_added + exp_removed + exp_changed
    ch = written.where(F.col("diff_status") == "changed")
    assert ch.count() == exp_changed
    assert ch.where(F.array_contains("changed_cols", "spans")).count() == exp_changed
    st = Manifest(mdir).get_stats("snapshot_diff")
    assert st is not None and st["changed"] == exp_changed
    json.dumps(s)


def test_annotate_round_cli(spark, docs_path, catalog, tmp_path):
    """--annotate: the annotated table carries every input row with a
    violations tags column; tagged rows exist (planted fixture
    violations), clean rows have empty arrays; without a contract the
    flag exits loudly."""
    import json as _json

    import pytest as _pytest
    from pyspark.sql import functions as F

    cat_path = str(tmp_path / "catalog")
    catalog.write.mode("overwrite").parquet(cat_path)
    cfg_path = str(tmp_path / "cfg.json")
    with open(cfg_path, "w") as f:
        _json.dump({
            "contract": {
                "columns": {"doc_id": {"nullable": False}},
                "elements": {
                    "spans.kind": {"nullable": False},
                    "spans.offset": {"min_value": 0},
                },
            },
        }, f)
    out = str(tmp_path / "out")
    s = one_round(
        spark,
        parse_args(["--docs", docs_path, "--catalog", cat_path,
                    "--out", out, "--config", cfg_path, "--annotate"]),
        "rann",
    )
    ann = spark.read.parquet(s["annotated"])
    n_in = spark.read.parquet(docs_path).count()
    assert ann.count() == n_in                      # keep-and-tag: no drops
    tagged = ann.filter(F.size("violations") > 0)
    assert tagged.count() > 0                       # planted null span kinds
    labels = {
        r[0]
        for r in tagged.select(
            F.explode("violations")).distinct().collect()
    }
    assert "spans[*].kind::null" in labels

    with _pytest.raises(SystemExit, match="--annotate"):
        one_round(
            spark,
            parse_args(["--docs", docs_path, "--catalog", cat_path,
                        "--out", out, "--annotate"]),
            "rann2",
        )


def test_json_rule_config_round(spark, docs_path, catalog, tmp_path):
    """A --config JSON-shape rule on a payload column flows through
    the CLI end to end: required/type/malformed verdict rows appear,
    with a planted number-vs-string type mix failing and the clean
    rules passing."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(docs_path)
    # deterministic payload column: every doc carries k (number),
    # except ids ending in '3' where a producer wrote a string
    docs2 = docs.withColumn(
        "props",
        F.when(
            F.col("doc_id").endswith("3"), F.lit('{"k": "oops"}')
        ).otherwise(
            F.concat(
                F.lit('{"k": '),
                F.length("doc_id").cast("string"),
                F.lit("}"),
            )
        ),
    )
    p2 = str(tmp_path / "docs_json")
    docs2.write.parquet(p2)
    cat_path = str(tmp_path / "catalog")
    catalog.write.mode("overwrite").parquet(cat_path)
    cfg_path = str(tmp_path / "cfg.json")
    with open(cfg_path, "w") as f:
        json.dump(
            {
                "contract": {
                    "json": {
                        "props": {
                            "required": ["k"],
                            "types": {"k": ["number"]},
                            "max_malformed_rate": 0.0,
                        }
                    }
                }
            },
            f,
        )
    out = str(tmp_path / "out")
    s = one_round(
        spark,
        parse_args(["--docs", p2, "--catalog", cat_path,
                    "--out", out, "--config", cfg_path]),
        "rjson",
    )
    v = spark.read.parquet(s["verdicts"])
    by = {
        r.check: r.verdict
        for r in v.filter(F.col("partition_id").isNull()).collect()
    }
    assert by["rule:json_malformed:props"] == "pass"
    assert by["rule:json_required:k:props"] == "pass"
    assert by["rule:json_type:k:props"] == "fail"


def test_repair_flag_round_trip(spark, tmp_path):
    """--repair plans over a table with planted nulls, writes the
    repaired parquet + plan.json, and the summary reconciles repaired
    cells against planned nulls from the WRITTEN output."""
    import pyspark.sql.functions as F

    from anomalydetection_spark.run import parse_args, repair_round

    src = str(tmp_path / "docs")
    spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 5 != 0, F.lit(1.5)).alias("score"),
        F.when(F.col("id") % 4 != 0, F.lit("en")).alias("lang"),
    ).write.mode("overwrite").parquet(src)
    out = str(tmp_path / "out")
    args = parse_args(
        ["--docs", src, "--out", out, "--repair",
         "--repair-columns", "score,lang"]
    )
    s = repair_round(spark, args, "r1")
    json.dumps(s)
    assert s["n_rules"] == 2 and s["n_refused"] == 0
    assert s["reconciled"] is True
    assert s["n_repaired_cells"] == 20 + 25
    by_col = {r["column"]: r for r in s["rules"]}
    assert by_col["score"]["strategy"] == "fill_median"
    assert by_col["lang"]["strategy"] == "fill_mode"
    back = spark.read.parquet(s["repair"])
    assert back.filter(
        F.col("score").isNull() | F.col("lang").isNull()
    ).count() == 0
    with open(s["plan"]) as f:
        plan = json.load(f)
    assert {p["column"] for p in plan} == {"score", "lang"}


def test_quantile_cols_grow_and_shrink_across_cli_runs(
    spark, docs_path, tmp_path
):
    """--quantile-cols drives the per-column digest coverage contract
    end-to-end: a GROWN set on an unchanged table backfills the new
    column per partition (no silent subset quantiles), a SHRUNK set
    drops the column from carried state."""
    from anomalydetection_spark.run import incremental_profile_round

    base = ["--docs", docs_path, "--out", str(tmp_path / "out"),
            "--manifest-dir", str(tmp_path / "m"),
            "--incremental-profile"]
    s1 = incremental_profile_round(spark, parse_args(base), "p1")
    q1 = spark.read.parquet(s1["quantiles"])
    assert {r["column"] for r in q1.collect()} == {"_text_len"}

    # grow: _span_count added mid-history; the table is unchanged so
    # no partition re-profiles, yet the new column's digests must
    # cover EVERY partition (backfill by rescan, not a subset)
    s2 = incremental_profile_round(
        spark,
        parse_args(base + ["--quantile-cols", "_text_len,_span_count"]),
        "p2",
    )
    assert s2["profiled_partitions"] == []
    q2 = spark.read.parquet(s2["quantiles"]).collect()
    by_col = {}
    for r in q2:
        by_col.setdefault(r["column"], set()).add(r["q"])
    assert set(by_col) == {"_text_len", "_span_count"}
    assert by_col["_span_count"] == {0.5, 0.9, 0.99}
    # coverage check from the stored digest state itself: EVERY
    # partition carries a digest for BOTH columns (backfill by rescan,
    # not a silent subset)
    from anomalydetection_spark.operators.incremental_profile import (
        IncrementalProfiler,
    )

    ip = IncrementalProfiler(
        os.path.join(str(tmp_path / "m"), "profile_state")
    )
    dig = spark.read.parquet(ip._digests_path(ip.current_version()))
    cov = {}
    for r in dig.select("column", "partition").distinct().collect():
        cov.setdefault(r["column"], set()).add(r["partition"])
    all_parts = set(s1["profiled_partitions"])
    assert cov["_text_len"] == all_parts
    assert cov["_span_count"] == all_parts

    # shrink: _text_len dropped -> removed from carried state
    s3 = incremental_profile_round(
        spark,
        parse_args(base + ["--quantile-cols", "_span_count"]),
        "p3",
    )
    q3 = spark.read.parquet(s3["quantiles"])
    assert {r["column"] for r in q3.collect()} == {"_span_count"}


def test_stream_profile_quantile_cols_cannot_backfill(
    spark, docs_path, tmp_path
):
    """--stream-profile --quantile-cols on a state whose earlier
    micro-batches carry no digests must fail LOUDLY (append-only state
    cannot backfill — the error, not a silent subset quantile, is what
    the operator sees)."""
    import pytest
    from pyspark.sql import functions as F

    from anomalydetection_spark.run import stream_profile_round

    # test-local copy of the docs dir — the fixture is shared and this
    # test appends a late file to its input
    src = str(tmp_path / "docs")
    spark.read.parquet(docs_path).write.mode("overwrite").parquet(src)
    base = ["--docs", src, "--out", str(tmp_path / "out"),
            "--manifest-dir", str(tmp_path / "m"), "--stream-profile"]
    s1 = stream_profile_round(spark, parse_args(base), "sp1")
    assert s1["state_version"] >= 1

    # new pending file -> a real second micro-batch (same schema:
    # partition_id is int in the fixture)
    spark.read.parquet(src).limit(50).withColumn(
        "partition_id", F.lit(9999).cast("int")
    ).write.mode("append").parquet(src)

    with pytest.raises(Exception, match="backfill"):
        stream_profile_round(
            spark,
            parse_args(base + ["--quantile-cols", "_text_len"]),
            "sp2",
        )


def test_stream_profile_quantile_cols_from_first_batch(
    spark, docs_path, tmp_path
):
    """Tracking from the FIRST micro-batch works: digests accumulate
    in stream state and the batch-side quantile accessor reads them."""
    import os

    from anomalydetection_spark.operators.incremental_profile import (
        IncrementalProfiler,
    )
    from anomalydetection_spark.run import stream_profile_round

    base = ["--docs", docs_path, "--out", str(tmp_path / "out"),
            "--manifest-dir", str(tmp_path / "m"), "--stream-profile",
            "--quantile-cols", "_text_len"]
    s1 = stream_profile_round(spark, parse_args(base), "sp1")
    assert s1["state_version"] >= 1
    state = os.path.join(str(tmp_path / "m"), "profile_state")
    ip = IncrementalProfiler(state)
    q = ip.quantiles(spark, [0.5, 0.9]).collect()
    assert {r["column"] for r in q} == {"_text_len"}
    assert all(r["value"] > 0 for r in q)
