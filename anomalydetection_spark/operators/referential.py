"""media_ref referential-integrity check.

Engine generalization of the reference's metadata joins (J1-J4,
/root/reference/database_manager.py:188-233): every non-null
``spans.media_ref`` must exist in the media catalog; violating docs are
emitted with their full original span sequence (span-sequence equality
invariant); per-partition verdicts come from the pipeline's count grid.
``ReferentialCheck`` is the one builder of the machinery below for the
batch pass, the pre-flight and the stream.

Scale design — the check is sized by the smaller of its two sides:
1. Row-local (catalog within ``BROADCAST_MAX_CATALOG_ROWS``): the
   catalog's key set is collected once, broadcast, and probed by a
   vectorized Arrow UDF inside the wide violations scan. No shuffle, no
   exploded-refs pass.
2. Probe-side (bigger catalog, the scope's distinct refs within
   ``PROBE_MAX_DISTINCT_REFS``): the scope's distinct refs (the hot ref
   collapses in the map-side distinct) are broadcast, the catalog key
   column is scanned once under a left-semi join against them, and the
   present keys — at most the scope's distinct refs — feed the same
   row-local UDF. The catalog is scanned, never shuffled.
3. Salted fallback (both sides too big to broadcast): ``explode`` spans
   → (doc, ref) pairs → salted sort-merge left-anti join against the
   catalog replicated ``salt_buckets`` ways (a hot media_ref spreads
   over reducers; AQE skew-join splitting as backstop), with an
   explicit broadcast-Bloom prefilter (functions/bloom.py) above
   ``BLOOM_MIN_CATALOG_ROWS``: Bloom negatives are definite orphans,
   and only the positives take the exact join.
"""

from __future__ import annotations

import logging
from functools import cached_property

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.bloom import build_bloom, might_contain_udf

log = logging.getLogger(__name__)


def _span_refs(docs: DataFrame, row_fingerprint: bool = False) -> DataFrame:
    """(doc_id, partition_id, media_ref ≠ null) pairs, one per span.

    NOT deduplicated here: dedup before the anti-join would shuffle
    every exploded pair, while a broadcast anti-join consumes the raw
    pairs shuffle-free — survivors (the orphans) are the tiny set, so
    dedup happens after the join (see ``orphan_refs``).

    ``row_fingerprint``: also emit ``row_fp = xxhash64(spans)`` so a
    downstream per-doc aggregate can stay per-PHYSICAL-row when the
    table contains duplicate doc_ids with differing span sequences
    (the pipeline's join path uses this to match the row-local path's
    semantics: a violation row's orphan list reflects that row's own
    spans, never a same-id sibling's)."""
    cols = ["doc_id", "partition_id"]
    base = docs
    if row_fingerprint:
        base = base.withColumn("row_fp", F.xxhash64("spans"))
        cols.append("row_fp")
    return (
        base.select(*cols, F.explode("spans").alias("s"))
        .select(*cols, F.col("s.media_ref").alias("media_ref"))
        .filter(F.col("media_ref").isNotNull())
    )


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
    """Distinct catalog keys as a sorted numpy array (for the row-local
    membership path). Only call when the catalog is known to be at most
    ``BROADCAST_MAX_CATALOG_ROWS`` — the same ceiling that gates the
    forced broadcast join, for the same serialized-size reasons."""
    tbl = (
        catalog.select(col)
        .filter(F.col(col).isNotNull())
        .distinct()
        .toArrow()  # Arrow transfer: no per-row Row materialization
    )
    keys = tbl.column(0).to_numpy(zero_copy_only=False)
    return np.sort(keys.astype(object, copy=False))


def orphan_refs_rowlocal_udf(spark: SparkSession, keys: np.ndarray):
    """Vectorized membership check: array<string> refs per row →
    sorted array of refs NOT present in the broadcast catalog key set.

    This is the shuffle-free referential path: for a broadcastable
    catalog the check is row-local, so the wide validation scan never
    shuffles and there is no separate exploded-refs pre-scan. An Arrow
    UDF working directly on the ListArray buffers (flatten → hashed
    ``is_in`` → offset rebuild) — zero per-row Python; only the orphan
    survivors (~violation-rate fraction of values) touch an object
    sort. (A pandas_udf draft of this was ~5x slower than the join it
    replaced: Arrow→object conversion plus per-row list rebuilds cost
    more than the shuffle. ListArray-level is the only shape that
    wins.)
    """
    from pyspark.sql.functions import arrow_udf

    bkeys = spark.sparkContext.broadcast(np.asarray(keys, dtype=object))
    # one-slot Arrow-array cache, scoped to THIS udf's closure: built on
    # the first batch after each (de)serialization of the closure (once
    # per task), reused across the task's Arrow batches. A module-level
    # cache keyed by id(keys) is unsound — Python reuses ids after GC,
    # so a second broadcast allocated at a freed array's address would
    # silently hit the first broadcast's catalog.
    cat_slot: list = []

    @arrow_udf("array<string>")
    def _orphans(refs: pa.Array) -> pa.Array:
        if not cat_slot:
            cat_slot.append(pa.array(bkeys.value, type=pa.string()))
        return _orphan_kernel(refs, bkeys.value, cat=cat_slot[0])

    return _orphans


def _orphan_kernel(refs, keys: np.ndarray, cat: "pa.Array | None" = None):
    """Pure pyarrow kernel behind the row-local UDF (property-tested in
    tests/test_properties.py against a per-row Python reference):
    list<string> refs per row → SORTED DISTINCT non-null refs not in
    ``keys``. Null elements and duplicate refs are handled HERE (C
    level) rather than by JVM filter()/array_distinct() passes — the
    interpreted higher-order expressions cost more wall time per scan
    than this whole kernel. ``cat`` is the optional pre-built Arrow
    value_set for ``keys`` (the UDF closure builds it once per task and
    passes it in; rebuilding a 50k+ value array object-by-object every
    batch was pure overhead, and a module-level id(keys)-keyed cache
    was UNSOUND — ids are reused after GC, so a different key set could
    silently hit a stale catalog)."""
    if cat is None:
        cat = pa.array(keys, type=pa.string())
    if isinstance(refs, pa.ChunkedArray):
        refs = refs.combine_chunks()
    n = len(refs)
    # per-slot value counts (null slot -> 0), C-level
    counts = np.asarray(pc.list_value_length(refs).fill_null(0))
    flat = pc.list_flatten(refs)  # skips null SLOTS, keeps null values
    orphan_mask = np.asarray(
        pc.invert(pc.is_in(flat, value_set=cat)).fill_null(True)
    ) & np.asarray(pc.is_valid(flat))
    row_ids = np.repeat(np.arange(n, dtype=np.int64), counts)
    o_rows = row_ids[orphan_mask]
    # object conversion AFTER the mask: only orphan survivors (a
    # violation-rate fraction) are materialized as python strings
    o_vals = pc.filter(flat, pa.array(orphan_mask)).to_numpy(
        zero_copy_only=False
    )
    # sort_array semantics within each row (tiny survivor set), then
    # drop within-row duplicates (array_distinct semantics)
    order = np.lexsort((o_vals, o_rows))
    o_rows = o_rows[order]
    o_vals = o_vals[order]
    if len(o_vals):
        keep = np.ones(len(o_vals), dtype=bool)
        keep[1:] = (o_rows[1:] != o_rows[:-1]) | (o_vals[1:] != o_vals[:-1])
        o_rows = o_rows[keep]
        o_vals = o_vals[keep]
    new_offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(np.bincount(o_rows, minlength=n), out=new_offsets[1:])
    return pa.ListArray.from_arrays(
        pa.array(new_offsets, type=pa.int32()),
        pa.array(o_vals, type=pa.string()),
    )


def span_refs_column() -> Column:
    """Each row's span media_refs (JVM-side projection feeding the
    row-local membership UDF). ONE interpreted higher-order pass —
    null elements and duplicates ride through to the Arrow kernel,
    which drops/dedups them at C speed (a filter() + array_distinct()
    here measured ~4s of wall per 16M-doc scan at local[32])."""
    return F.transform("spans", lambda s: s["media_ref"])


def orphan_refs(
    docs: DataFrame,
    catalog: DataFrame,
    spark: SparkSession | None = None,
    use_bloom: bool | None = None,
    catalog_size_hint: int | None = None,
    fpp: float = 0.01,
    salt_buckets: int = 8,
    bloom: tuple | None = None,
    row_fingerprint: bool = False,
) -> DataFrame:
    """(doc_id, partition_id, media_ref) pairs whose ref is missing from
    the catalog (plus ``row_fp`` when ``row_fingerprint`` — see
    ``_span_refs``).

    ``use_bloom=None`` (auto): build the explicit Bloom prefilter only
    when the catalog exceeds ``BLOOM_MIN_CATALOG_ROWS`` — below that the
    anti-join side broadcasts outright and the Bloom build (a catalog
    pass + driver merge + Python prefilter stage) is pure overhead.

    ``bloom``: a prebuilt ``(bits, k, m)`` from ``build_bloom`` — pass
    this when the same catalog is probed repeatedly (streaming
    micro-batches, poll loops) so the build cost is paid once, not per
    call."""
    refs = _span_refs(docs, row_fingerprint=row_fingerprint)

    # Catalog size drives BOTH the bloom and the join-strategy choice,
    # so resolve it independently of use_bloom (an explicit
    # use_bloom=False previously left n unknown and forced even tiny
    # catalogs down the salted sort-merge path). Callers that know the
    # size (e.g. streaming micro-batches against a fixed catalog) pass
    # catalog_size_hint and skip the count() action entirely.
    n = catalog_size_hint if catalog_size_hint is not None else catalog.count()
    if bloom is not None:
        use_bloom = True
    elif use_bloom is None:
        use_bloom = n > BLOOM_MIN_CATALOG_ROWS

    if use_bloom and spark is not None:
        bits, k, m = (
            bloom if bloom is not None else build_bloom(catalog, "media_ref", n, fpp)
        )
        mc = might_contain_udf(spark, bits, k, m)
        refs = refs.withColumn("_maybe", mc(F.col("media_ref")))
        definite_orphans = refs.filter(~F.col("_maybe")).drop("_maybe")
        # Bloom positives may be false positives → exact check on the
        # (tiny) surviving set only.
        candidates = refs.filter(F.col("_maybe")).drop("_maybe")
    else:
        definite_orphans = None
        candidates = refs

    # Exact anti-join. Broadcastable catalog → shuffle-free probe of the
    # raw span pairs (no reducer exists, so no skew to salt). Oversized
    # catalog → salted sort-merge anti-join: replicate the catalog side
    # salt_buckets ways so a hot media_ref spreads across reducers.
    broadcastable = n <= BROADCAST_MAX_CATALOG_ROWS
    if broadcastable:
        fp_orphans = candidates.join(
            F.broadcast(catalog.select("media_ref")), "media_ref", "left_anti"
        )
    else:
        salted_left = candidates.withColumn(
            "_salt", F.pmod(F.xxhash64("doc_id"), F.lit(salt_buckets))
        )
        salted_right = catalog.select("media_ref").crossJoin(
            F.broadcast(
                candidates.sparkSession.range(salt_buckets).select(
                    F.col("id").cast("int").alias("_salt")
                )
            )
        )
        fp_orphans = salted_left.join(
            salted_right, ["media_ref", "_salt"], "left_anti"
        ).drop("_salt")

    out = fp_orphans
    if definite_orphans is not None:
        out = definite_orphans.unionByName(fp_orphans)
    # dedupe AFTER the join: orphan survivors are the tiny set
    dedup_cols = ["doc_id", "media_ref"] + (
        ["row_fp"] if row_fingerprint else []
    )
    return out.dropDuplicates(dedup_cols)


class ReferentialCheck:
    """The referential machinery for one catalog, built once and reused
    by every pass, pre-flight or micro-batch that probes it.
    ``udf_for(scope)`` picks the shape (module docstring):

    * ``udf`` — catalog within ``BROADCAST_MAX_CATALOG_ROWS``: the key
      set is collected and broadcast once, and the check is the
      row-local membership UDF inside the wide scan;
    * probe-side — bigger catalog, few enough distinct refs in the
      scope: the same UDF over only the catalog keys the scope names;
    * ``None`` — both too big: ``orphan_doc`` runs the salted
      anti-join, with a Bloom prefilter built once (``bloom``) above
      ``BLOOM_MIN_CATALOG_ROWS``.

    The catalog work (size, key collect, Bloom build) runs on first use,
    so a pass can overlap it with its other narrow scans; ``build()``
    forces it up front (a stream does, so no micro-batch pays it)."""

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
    def udf(self):
        if self.n > BROADCAST_MAX_CATALOG_ROWS:
            return None
        return orphan_refs_rowlocal_udf(
            self.spark, collect_catalog_keys(self.catalog)
        )

    @cached_property
    def bloom(self) -> tuple | None:
        if self.n <= BLOOM_MIN_CATALOG_ROWS:
            return None
        return build_bloom(self.catalog, "media_ref", self.n)

    def udf_for(self, scope: DataFrame):
        """The row-local membership UDF that checks ``scope``, or None
        when only the salted join can (logged at INFO either way)."""
        if self.n <= BROADCAST_MAX_CATALOG_ROWS:
            log.info("referential: row-local")
            return self.udf
        # one bounded collect: one row past the ceiling tells "too many"
        # without a separate count, and the refs go back to the JVM as an
        # Arrow-backed local relation, so their broadcast starts no job
        refs = (
            _span_refs(scope)
            .select("media_ref")
            .distinct()
            .limit(PROBE_MAX_DISTINCT_REFS + 1)
            .toArrow()
        )
        if refs.num_rows > PROBE_MAX_DISTINCT_REFS:
            log.info(
                "referential: %s",
                "salted+bloom" if self.bloom is not None else "salted",
            )
            return None
        keys = collect_catalog_keys(
            self.catalog.select("media_ref").join(
                F.broadcast(self.spark.createDataFrame(refs)),
                "media_ref",
                "left_semi",
            )
        )
        log.info(
            "referential: probe-side (%d of %d refs)",
            len(keys),
            refs.num_rows,
        )
        return orphan_refs_rowlocal_udf(self.spark, keys)

    def build(self) -> "ReferentialCheck":
        """Run the one-time catalog work now instead of on first use."""
        if self.udf is None:
            _ = self.bloom
        return self

    def orphan_doc(self, docs: DataFrame) -> DataFrame:
        """Per-physical-row orphan aggregate (doc_id, partition_id,
        row_fp, orphan_refs, n_orphans) from the salted anti-join —
        ``row_fp`` keeps duplicate doc_ids with differing spans apart,
        matching the row-local path's semantics exactly."""
        return (
            orphan_refs(
                docs,
                self.catalog,
                self.spark,
                use_bloom=self.bloom is not None,
                catalog_size_hint=self.n,
                salt_buckets=self.salt_buckets,
                bloom=self.bloom,
                row_fingerprint=True,
            )
            .groupBy("doc_id", "partition_id", "row_fp")
            .agg(
                F.sort_array(F.collect_set("media_ref")).alias("orphan_refs"),
                F.count("*").alias("n_orphans"),
            )
        )
