"""media_ref referential-integrity check.

Engine generalization of the reference's metadata joins (J1-J4,
/root/reference/database_manager.py:188-233): every non-null
``spans.media_ref`` must exist in the media catalog; violating docs are
emitted with their full original span sequence (span-sequence equality
invariant); per-partition verdicts come from the pipeline's count grid.
``ReferentialCheck.orphans`` is the one shape chooser below: the batch
pass, the pre-flight and the stream (all through
``plans/pipeline.py::validate_scope``) and ``orphan_refs`` take their
join shape from it.

The check's input is a scope's exploded refs (``ref_pairs``): one
(doc_id, partition_id, row_fp, media_ref) pair per distinct non-null
ref of a row, where ``row_fp = xxhash64(spans.media_ref)`` keeps
duplicate doc_ids with differing refs apart. The orphan pairs are the
pairs a left-anti join finds no catalog key for, grouped back per
physical row — on the driver by ``validate_scope``, by ``orphan_groups``
in Spark beyond the broadcast cap.

Scale design — the check stays in the JVM, and its broadcast side is
the smaller of the two:
1. Row-local (catalog within ``BROADCAST_MAX_CATALOG_ROWS``): the
   catalog's key column is the broadcast build side, probed map-side by
   the pairs. No shuffle of either side before the grouping.
2. Probe-side (bigger catalog, the scope's distinct refs within
   ``PROBE_MAX_DISTINCT_REFS``): the scope's distinct refs (the hot ref
   collapses in the map-side distinct) are broadcast, the catalog key
   column is scanned once under a left-semi join against them, and the
   present keys — at most the scope's distinct refs — are the build
   side. The catalog is scanned, never shuffled.
3. Salted fallback (both sides too big to broadcast): a salted
   sort-merge left-anti join against the catalog replicated
   ``salt_buckets`` ways (a hot media_ref spreads over reducers; AQE
   skew-join splitting as backstop), with an explicit broadcast-Bloom
   prefilter (functions/bloom.py) above ``BLOOM_MIN_CATALOG_ROWS``:
   Bloom negatives are definite orphans, and only the positives take
   the exact join.

No Python UDF on the common shapes. An earlier row-local shape probed a
broadcast key array from a vectorized Arrow UDF inside the wide scan.
Its cost was fixed per task, not per row: each Python worker task ran
``importlib.invalidate_caches()``, which re-reads the directory of every
zipimporter on the path (pyspark.zip's 1,328 entries, the spark-core
jar's 5,359), 0.14-0.25 s per task on a 4-core host. A no-op Arrow UDF
turned a 4-task write from 0.18 into 0.49 s, and 1/8/32 tasks cost
0.36/0.67/2.09 s against 0.08/0.10/0.17 s without it. The broadcast
anti-join does the same membership test with no per-task cost, so a
Python UDF must not return to this path; the Bloom prefilter, beyond
5M catalog rows, is the one that remains.
"""

from __future__ import annotations

import logging
from functools import cached_property

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.bloom import build_bloom, might_contain_udf

log = logging.getLogger(__name__)

# A row's refs and its fingerprint, as SQL over ``spans`` — the narrow
# projection of plans/pipeline.py carries both, and the wide scan
# recomputes ``row_fp`` to attach the orphan groups.
REFS_SQL = "spans.media_ref"
ROW_FP_SQL = f"xxhash64({REFS_SQL})"


def ref_pairs(
    rows: DataFrame, refs: str = REFS_SQL, row_fp: str = ROW_FP_SQL
) -> DataFrame:
    """(doc_id, partition_id, row_fp, media_ref): one pair per distinct
    non-null ref of each row. ``refs``/``row_fp`` are SQL over ``rows``
    (a documents frame by default, or a projection already carrying
    them as columns). Row-local — the pairs feed a broadcast anti-join
    map-side; per-row dedup here keeps each orphan pair once per row."""
    return rows.selectExpr(
        "doc_id",
        "partition_id",
        f"{row_fp} AS row_fp",
        f"explode(array_distinct({refs})) AS media_ref",
    ).filter("media_ref IS NOT NULL")


BLOOM_MIN_CATALOG_ROWS = 5_000_000

# Forced-broadcast ceiling for the catalog key column. Media refs are
# ~20-60 byte strings: 2M rows ≈ 40-120 MB serialized — the top of what
# an explicit broadcast should ever ship to every executor (Spark's own
# auto threshold is 10 MB; a forced 20M-row broadcast ≈ 0.4-1.2 GB was
# an OOM risk on real clusters despite fitting this sandbox). Above the
# ceiling the salted sort-merge anti-join takes over (AQE skew-join as
# backstop).
BROADCAST_MAX_CATALOG_ROWS = 2_000_000

# Probe-side ceiling: the most distinct refs of one scope that are
# broadcast against a catalog beyond BROADCAST_MAX_CATALOG_ROWS — the
# same ceiling, for the same serialized-size reasons (the present keys
# collected back are at most this many).
PROBE_MAX_DISTINCT_REFS = BROADCAST_MAX_CATALOG_ROWS


def collect_catalog_keys(catalog: DataFrame, col: str = "media_ref"):
    """Distinct catalog keys as a sorted numpy array, collected as Arrow.
    Only call when the catalog is known to be at most
    ``BROADCAST_MAX_CATALOG_ROWS`` — the same ceiling that gates the
    forced broadcast join, for the same serialized-size reasons. The
    validation pass never collects the catalog: its row-local shape
    broadcasts the key column inside the anti-join."""
    tbl = (
        catalog.select(col)
        .filter(F.col(col).isNotNull())
        .distinct()
        .toArrow()  # Arrow transfer: no per-row Row materialization
    )
    keys = tbl.column(0).to_numpy(zero_copy_only=False)
    return np.sort(keys.astype(object, copy=False))


def orphan_groups(orphans: DataFrame) -> DataFrame:
    """Orphan pairs → one row per (doc_id, partition_id, row_fp) group:
    ``orphan_refs`` (sorted distinct) and ``n_rows``, the physical rows
    of the group. Each row contributes one pair per distinct orphan ref,
    so a group's pair count is n_rows x size(orphan_refs), exactly."""
    return (
        orphans.groupBy("doc_id", "partition_id", "row_fp")
        .agg(
            F.sort_array(F.collect_set("media_ref")).alias("orphan_refs"),
            F.count("*").alias("_pairs"),
        )
        .selectExpr(
            "doc_id",
            "partition_id",
            "row_fp",
            "orphan_refs",
            "_pairs div size(orphan_refs) AS n_rows",
        )
    )


class ReferentialCheck:
    """The referential machinery for one catalog, built once and reused
    by every pass, pre-flight or micro-batch that probes it.
    ``orphans(pairs)`` picks the shape (module docstring) and logs it at
    INFO: ``row-local``, ``probe-side (<present> of <distinct> refs)``
    or ``salted``/``salted+bloom``.

    The catalog work (size, Bloom build) runs on first use, so a pass
    can overlap it with its other scans; ``build()`` forces it up front
    (a stream does, so no micro-batch pays it)."""

    def __init__(
        self,
        spark: SparkSession,
        catalog: DataFrame,
        size_hint: int | None = None,
        salt_buckets: int = 8,
    ):
        self.spark, self.catalog = spark, catalog
        self.size_hint, self.salt_buckets = size_hint, salt_buckets

    @cached_property
    def n(self) -> int:
        if self.size_hint is not None:
            return self.size_hint
        return self.catalog.count()

    @cached_property
    def bloom(self) -> tuple | None:
        if self.n <= BLOOM_MIN_CATALOG_ROWS:
            return None
        return build_bloom(self.catalog, "media_ref", self.n)

    def orphans(self, pairs: DataFrame, most: int | None = None) -> DataFrame:
        """The ``ref_pairs`` rows whose media_ref the catalog lacks;
        ``most``, when known, bounds the number of pairs."""
        if self.n <= BROADCAST_MAX_CATALOG_ROWS:
            log.info("referential: row-local")
            return pairs.join(
                F.broadcast(self.catalog.select("media_ref")),
                "media_ref",
                "left_anti",
            )
        # one bounded collect: one row past the ceiling tells "too many"
        # without a separate count, and the refs go back to the JVM as an
        # Arrow-backed local relation, so their broadcast starts no job.
        # The root limit costs a single-partition exchange, so a scope
        # whose pairs cannot exceed the ceiling skips it.
        refs = pairs.select("media_ref").distinct()
        if most is None or most > PROBE_MAX_DISTINCT_REFS:
            refs = refs.limit(PROBE_MAX_DISTINCT_REFS + 1)
        refs = refs.toArrow()
        if refs.num_rows > PROBE_MAX_DISTINCT_REFS:
            return self._salted(pairs)
        present = (
            self.catalog.select("media_ref")
            .join(
                F.broadcast(self.spark.createDataFrame(refs)),
                "media_ref",
                "left_semi",
            )
            .distinct()
            .toArrow()
        )
        log.info(
            "referential: probe-side (%d of %d refs)",
            present.num_rows,
            refs.num_rows,
        )
        return pairs.join(
            F.broadcast(self.spark.createDataFrame(present)),
            "media_ref",
            "left_anti",
        )

    def _salted(self, pairs: DataFrame) -> DataFrame:
        """The salted sort-merge anti-join: the catalog side replicated
        ``salt_buckets`` ways so a hot media_ref spreads across
        reducers, behind the Bloom prefilter when the catalog has one —
        its negatives are definite orphans, and only its positives take
        the exact join."""
        log.info(
            "referential: %s",
            "salted+bloom" if self.bloom is not None else "salted",
        )
        definite_orphans = None
        if self.bloom is not None:
            mc = might_contain_udf(self.spark, *self.bloom)
            pairs = pairs.withColumn("_maybe", mc(F.col("media_ref")))
            definite_orphans = pairs.filter(~F.col("_maybe")).drop("_maybe")
            pairs = pairs.filter(F.col("_maybe")).drop("_maybe")
        salted_left = pairs.withColumn(
            "_salt", F.pmod(F.xxhash64("doc_id"), F.lit(self.salt_buckets))
        )
        salted_right = self.catalog.select("media_ref").crossJoin(
            F.broadcast(
                self.spark.range(self.salt_buckets).select(
                    F.col("id").cast("int").alias("_salt")
                )
            )
        )
        out = salted_left.join(
            salted_right, ["media_ref", "_salt"], "left_anti"
        ).drop("_salt")
        if definite_orphans is not None:
            out = definite_orphans.unionByName(out)
        return out

    def build(self) -> "ReferentialCheck":
        """Run the one-time catalog work now instead of on first use."""
        if self.n > BROADCAST_MAX_CATALOG_ROWS:
            _ = self.bloom
        return self


def orphan_refs(
    docs: DataFrame,
    catalog: DataFrame,
    spark: SparkSession | None = None,
    salt_buckets: int = 8,
    catalog_size_hint: int | None = None,
    row_fingerprint: bool = False,
) -> DataFrame:
    """(doc_id, partition_id, media_ref) pairs whose ref is missing from
    the catalog (plus ``row_fp`` when ``row_fingerprint`` — see
    ``ref_pairs``), each once per doc: ``ReferentialCheck.orphans`` of
    the docs' ``ref_pairs``, so the shape is the pass's.
    ``catalog_size_hint`` skips the catalog ``count()``."""
    ref = ReferentialCheck(
        spark or docs.sparkSession, catalog, catalog_size_hint, salt_buckets
    )
    pairs = ref.orphans(ref_pairs(docs))
    if not row_fingerprint:
        pairs = pairs.drop("row_fp")
    # dedupe AFTER the join: orphan survivors are the tiny set
    return pairs.dropDuplicates(
        ["doc_id", "media_ref"] + (["row_fp"] if row_fingerprint else [])
    )
