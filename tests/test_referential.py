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


def _forced(monkeypatch, bloom: bool):
    """Force ``ReferentialCheck`` onto its salted shape on the fixture
    catalog — a broadcast cap and a probe-side guard below its size —
    with or without the Bloom prefilter."""
    import anomalydetection_spark.operators.referential as R

    monkeypatch.setattr(R, "BROADCAST_MAX_CATALOG_ROWS", 100)
    monkeypatch.setattr(R, "PROBE_MAX_DISTINCT_REFS", 0)
    monkeypatch.setattr(
        R, "BLOOM_MIN_CATALOG_ROWS", 100 if bloom else 10**9
    )
    return R


def _orphan_pairs(ref, docs) -> set:
    from anomalydetection_spark.operators.referential import ref_pairs

    return {
        (r.doc_id, r.row_fp, r.media_ref)
        for r in ref.orphans(ref_pairs(docs)).collect()
    }


def test_orphans_exact_with_bloom(spark, docs, catalog, monkeypatch):
    """The salted+bloom shape finds exactly the refs the catalog lacks:
    the prefilter drops no orphan, and the exact join removes its false
    positives."""
    R = _forced(monkeypatch, bloom=True)
    ref = R.ReferentialCheck(spark, catalog)
    assert ref.bloom is not None
    got = {m for _, _, m in _orphan_pairs(ref, docs)}
    exp = _expected_orphan_pairs(docs, catalog)
    assert got == exp
    # sanity: the planted-missing modulus actually shows up
    assert any(int(m[1:]) % MISSING_REF_MOD == 7 for m in exp)


def test_orphans_exact_without_bloom(spark, docs, catalog, monkeypatch):
    """The salted shape with and without the Bloom prefilter yields the
    same orphan pairs as the row-local shape."""
    import anomalydetection_spark.operators.referential as R

    rowlocal = _orphan_pairs(R.ReferentialCheck(spark, catalog), docs)
    _forced(monkeypatch, bloom=True)
    with_b = _orphan_pairs(R.ReferentialCheck(spark, catalog), docs)
    _forced(monkeypatch, bloom=False)
    ref = R.ReferentialCheck(spark, catalog)
    assert ref.bloom is None
    assert rowlocal and with_b == _orphan_pairs(ref, docs) == rowlocal


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


def test_prebuilt_bloom_matches_inline_build(spark, docs, catalog,
                                             monkeypatch):
    """A check whose Bloom filter was built up front (``build()``, the
    stream's reuse path) gives exactly the orphans of one that builds
    it on first use."""
    R = _forced(monkeypatch, bloom=True)
    pre = R.ReferentialCheck(spark, catalog).build()
    assert "bloom" in vars(pre)
    lazy = R.ReferentialCheck(spark, catalog)
    assert "bloom" not in vars(lazy)
    assert _orphan_pairs(pre, docs) == _orphan_pairs(lazy, docs)


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
    """Beyond the broadcast cap and the probe-side guard the shared
    referential check is the salted anti-join, and beyond the Bloom
    threshold its prefilter is built ONCE per check however many scopes
    it probes; its orphan pairs flag exactly the docs the row-local
    shape does."""
    import anomalydetection_spark.operators.referential as R

    want = {d for d, _, _ in _orphan_pairs(R.ReferentialCheck(spark, catalog),
                                           docs)}
    builds = []
    real_build = R.build_bloom
    monkeypatch.setattr(
        R, "build_bloom",
        lambda *a, **k: builds.append(1) or real_build(*a, **k),
    )
    _forced(monkeypatch, bloom=True)
    ref = R.ReferentialCheck(spark, catalog).build()
    assert ref.bloom is not None and len(builds) == 1
    got = {d for d, _, _ in _orphan_pairs(ref, docs)}
    _orphan_pairs(ref, docs.filter(F.col("partition_id") < 4))
    assert len(builds) == 1
    assert got == want


def test_orphan_refs_takes_the_pass_shape(spark, docs, catalog, monkeypatch,
                                          caplog):
    """``orphan_refs`` and the pass's core (``validate_scope``) take
    their join shape from the same ``ReferentialCheck.orphans``, so with
    the cap constants forced they log the same shape: row-local,
    probe-side (with the same ref counts) and salted+bloom."""
    import logging

    import anomalydetection_spark.operators.referential as R
    from anomalydetection_spark.plans.pipeline import validate_scope

    def shapes():
        out = []
        for fn in (
            lambda: orphan_refs(docs, catalog, spark).count(),
            lambda: validate_scope(
                docs, R.ReferentialCheck(spark, catalog), emit=False
            ),
        ):
            caplog.clear()
            with caplog.at_level(logging.INFO, logger=R.__name__):
                fn()
            (msg,) = [
                r.getMessage() for r in caplog.records if r.name == R.__name__
            ]
            out.append(msg)
        return out

    assert shapes() == ["referential: row-local"] * 2
    monkeypatch.setattr(R, "BROADCAST_MAX_CATALOG_ROWS", catalog.count() - 1)
    probe, scope = shapes()
    assert probe == scope and probe.startswith("referential: probe-side (")
    _forced(monkeypatch, bloom=True)
    assert shapes() == ["referential: salted+bloom"] * 2
