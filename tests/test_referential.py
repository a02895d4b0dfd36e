"""Referential check: media_refs absent from the catalog are the exact
planted set (refs m with m % 11 == 7 plus refs beyond the catalog id
range); Bloom prefilter introduces no false negatives and the exact
join removes its false positives (SURVEY.md §5 item 1)."""

from __future__ import annotations

from pyspark.sql import functions as F

from anomalydetection_spark.fixtures import MISSING_REF_MOD
from anomalydetection_spark.operators.referential import orphan_refs
from anomalydetection_spark.plans.pipeline import run_validation


def _expected_orphan_pairs(docs, catalog):
    refs = (
        docs.select(F.explode("spans").alias("s"))
        .select(F.col("s.media_ref").alias("media_ref"))
        .filter(F.col("media_ref").isNotNull())
        .distinct()
    )
    return {
        r.media_ref
        for r in refs.join(catalog, "media_ref", "left_anti").collect()
    }


def test_orphans_exact_with_bloom(spark, docs, catalog):
    exp = _expected_orphan_pairs(docs, catalog)
    got = {
        r.media_ref
        for r in orphan_refs(docs, catalog, spark, use_bloom=True)
        .select("media_ref")
        .distinct()
        .collect()
    }
    assert got == exp
    # sanity: the planted-missing modulus actually shows up
    assert any(int(m[1:]) % MISSING_REF_MOD == 7 for m in exp)


def test_orphans_exact_without_bloom(spark, docs, catalog):
    with_b = orphan_refs(docs, catalog, spark, use_bloom=True)
    without_b = orphan_refs(docs, catalog, spark, use_bloom=False)
    a = {(r.doc_id, r.media_ref) for r in with_b.collect()}
    b = {(r.doc_id, r.media_ref) for r in without_b.collect()}
    assert a == b


def test_no_false_positives_on_clean_refs(spark, docs, catalog):
    """Docs whose refs all exist must not appear."""
    orphan_docs = {
        r.doc_id for r in orphan_refs(docs, catalog, spark).collect()
    }
    clean = (
        docs.select("doc_id", F.explode("spans").alias("s"))
        .filter(F.col("s.media_ref").isNotNull())
        .join(catalog, F.col("s.media_ref") == F.col("media_ref"), "left_anti")
        .select("doc_id")
        .distinct()
    )
    must_flag = {r.doc_id for r in clean.collect()}
    assert orphan_docs == must_flag


def test_violation_rows_preserve_spans(spark, docs, catalog):
    """Every violation row's (doc_id, spans) pair exists verbatim in the
    source table (multiset containment — planted duplicate doc_ids make
    a plain re-join a cross product, so compare serialized pairs)."""
    v = run_validation(spark, docs, catalog=catalog).violations.filter(
        F.col("check") == "referential"
    )
    jkey = F.coalesce(F.to_json("spans"), F.lit("<null>"))
    viol_pairs = v.select("doc_id", jkey.alias("j"))
    src_pairs = docs.select("doc_id", jkey.alias("j"))
    assert viol_pairs.exceptAll(src_pairs).count() == 0
    assert v.count() > 0


def test_verdicts_fail_only_partitions_with_orphans(spark, docs, catalog):
    verd = run_validation(spark, docs, catalog=catalog).verdicts.collect()
    failed = {
        r.partition_id
        for r in verd
        if r.check == "referential"
        and r.partition_id is not None
        and r.verdict == "fail"
    }
    orphan_parts = {
        r.partition_id
        for r in orphan_refs(docs, catalog, spark)
        .select("partition_id")
        .distinct()
        .collect()
    }
    assert failed == orphan_parts


def test_bloom_tree_merge_matches_single_partition(spark, catalog):
    """treeAggregate OR-merge over P partition bitmaps must yield bit-for-bit
    the same filter as a 1-partition build (merge order is irrelevant for OR)."""
    import numpy as np

    from anomalydetection_spark.functions.bloom import build_bloom

    n = catalog.count()
    many = catalog.repartition(16)
    one = catalog.coalesce(1)
    bits_many, k1, m1 = build_bloom(many, "media_ref", n)
    bits_one, k2, m2 = build_bloom(one, "media_ref", n)
    assert (k1, m1) == (k2, m2)
    assert np.array_equal(bits_many, bits_one)
    assert bits_many.any()  # non-trivial filter


def test_prebuilt_bloom_matches_inline_build(spark, docs, catalog):
    """A bloom built once and passed in (the streaming-reuse path) gives
    exactly the same orphans as the per-call build."""
    from anomalydetection_spark.functions.bloom import build_bloom

    n = catalog.count()
    pre = build_bloom(catalog, "media_ref", n)
    a = {
        (r.doc_id, r.media_ref)
        for r in orphan_refs(
            docs, catalog, spark, use_bloom=True, catalog_size_hint=n
        ).collect()
    }
    b = {
        (r.doc_id, r.media_ref)
        for r in orphan_refs(
            docs, catalog, spark, bloom=pre, catalog_size_hint=n
        ).collect()
    }
    assert a == b


def test_complete_catalog_passes(spark, docs):
    """A catalog containing every referenced key → zero orphans."""
    full = (
        docs.select(F.explode("spans").alias("s"))
        .select(F.col("s.media_ref").alias("media_ref"))
        .filter(F.col("media_ref").isNotNull())
        .distinct()
    )
    assert orphan_refs(docs, full, spark).count() == 0


def test_referential_check_builds_bloom_once(spark, docs, catalog,
                                             monkeypatch):
    """Beyond the broadcast cap the shared referential check is the
    salted anti-join, and beyond the Bloom threshold its prefilter is
    built ONCE per check however many scopes it probes; its per-doc
    orphan aggregate flags exactly the docs the plain anti-join does."""
    import anomalydetection_spark.operators.referential as R

    builds = []
    real_build = R.build_bloom
    monkeypatch.setattr(
        R, "build_bloom",
        lambda *a, **k: builds.append(1) or real_build(*a, **k),
    )
    monkeypatch.setattr(R, "BROADCAST_MAX_CATALOG_ROWS", 100)
    monkeypatch.setattr(R, "BLOOM_MIN_CATALOG_ROWS", 100)
    ref = R.ReferentialCheck(spark, catalog).build()
    assert ref.udf is None and ref.bloom is not None
    got = {r.doc_id for r in ref.orphan_doc(docs).collect()}
    ref.orphan_doc(docs.filter(F.col("partition_id") < 4)).count()
    assert len(builds) == 1
    want = {
        r.doc_id
        for r in orphan_refs(docs, catalog, spark, use_bloom=False).collect()
    }
    assert got == want

