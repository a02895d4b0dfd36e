"""Structured Streaming front-end for the validation engine.

The reference's 60 s poll loop + offset tracking + re-entrancy guard
(/root/reference/main.py:394-414, log_retriever.py:234-241,
task_scheduler.py:11-25) map directly onto Structured Streaming:

- file-source offsets in the checkpoint = ``last_read_position``
  (exactly-once, resume-after-crash for free),
- single active micro-batch = the scheduler's re-entrancy guard,
- ``Trigger.AvailableNow`` = one drain of the pending backlog — the
  batch-rounds shape the engine's manifest loop uses,
- ``processingTime`` trigger = the 60 s poll cadence.

Each micro-batch runs the batch pipeline's validation core under the
same ``ValidationConfig`` (foreachBatch → plans/pipeline.py::
validate_scope), writing verdicts + violations parquet per batch id.
Cross-batch state (global uniqueness, drift history) stays in the
manifest/violations tables — a micro-batch only asserts within-batch
and against broadcast reference data, which is the right split at
10^12-doc scale (global re-checks run as periodic batch passes over the
violations/metrics tables).
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import DEFAULT_CONFIG, ValidationConfig
from ..operators import stats as stats_ops
from ..operators.drift import collect_histogram
from ..operators.referential import ReferentialCheck
from ..plans.pipeline import drift_rows, validate_scope, verdict_rows
from ..schema import DOCUMENTS_SCHEMA, VERDICTS_DDL


def read_documents_stream(
    spark: SparkSession, input_dir: str, schema: T.StructType | None = None
) -> DataFrame:
    """File-source stream over a documents directory (schema pinned —
    streaming sources never infer). ``schema`` overrides the default
    documents shape for tables carrying extra payload columns (e.g. a
    JSON props column a contract wants to judge); it must still contain
    the core validation columns (doc_id, spans, partition_id)."""
    return (
        spark.readStream.schema(schema or DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )


def stream_validate(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    catalog: DataFrame | None = None,
    available_now: bool = True,
    processing_time: str = "60 seconds",
    baseline_hist: DataFrame | None = None,
    emit_violations: bool = False,
    cfg: ValidationConfig = DEFAULT_CONFIG,
    contract=None,
    schema: T.StructType | None = None,
):
    """Run incremental validation over arriving document files.

    Returns the StreamingQuery; with ``available_now`` it drains the
    backlog once and stops (call ``awaitTermination()``).

    Each micro-batch runs the batch pass's validation core
    (plans/pipeline.py::validate_scope), the batch being both scope and
    key scope, under the same ``cfg`` as a batch pass. A micro-batch
    only asserts WITHIN-batch uniqueness (cross-batch dup detection is
    the periodic batch pass over the manifest), so that check is named
    ``uniqueness_batch``. The referential check is built once for the
    stream's lifetime: no micro-batch re-scans the catalog.

    ``emit_violations``: also write the violation rows per micro-batch
    under ``output_dir/violations/batch_id=N`` (overwrite per batch id →
    idempotent on replay; the tree reads back as one partitioned
    table), capped per ``cfg.max_violation_exemplars``.
    ``baseline_hist``: a stored length histogram, collected once and
    binned like ``cfg.drift``; every micro-batch emits
    ``drift_len_batch`` verdict rows against it.

    ``contract``: a :class:`~..operators.contract.Contract` — judged per
    micro-batch via the SAME two-tier ``contract_verdicts`` as batch
    (data tier is ONE map-side-combinable agg; structural issues and
    uncompilable expressions become ``schema:*`` fail rows, never
    crashes) and written under ``output_dir/contract_verdicts/
    batch_id=N`` (overwrite → idempotent on replay). Structural rows are
    schema-scoped so they repeat identically per batch — harmless, and
    it keeps every batch directory a self-contained verdict set.

    ``schema``: optional stream schema override (see
    :func:`read_documents_stream`) for document tables carrying extra
    payload columns a contract wants to judge."""
    stream = read_documents_stream(spark, input_dir, schema=schema)
    verdicts_dir = os.path.join(output_dir, "verdicts")
    violations_dir = os.path.join(output_dir, "violations")
    contract_dir = os.path.join(output_dir, "contract_verdicts")
    if contract is not None:
        from ..operators.contract import contract_verdicts
    ref = (
        ReferentialCheck(spark, catalog, salt_buckets=cfg.salt_buckets).build()
        if catalog is not None
        else None
    )
    base_rows = (
        collect_histogram(baseline_hist, ["kind"])
        if baseline_hist is not None
        else None
    )

    def process(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        totals = batch.groupBy("partition_id").agg(F.count("*").alias("n_rows"))
        # the per-partition totals scan overlaps the validation core's scans
        with ThreadPoolExecutor(max_workers=1) as helper:
            fut_totals = helper.submit(totals.collect)
            violations, grid = validate_scope(
                batch,
                batch,
                ref,
                cfg,
                out_dir=(
                    os.path.join(violations_dir, f"batch_id={batch_id}")
                    if emit_violations
                    else None
                ),
            )
        violations.unpersist()
        rows = [
            ("uniqueness_batch", *r[1:]) if r[0] == "uniqueness" else r
            for r in verdict_rows(
                grid,
                sorted(tuple(r) for r in fut_totals.result()),
                has_catalog=ref is not None,
                cfg=cfg,
            )
        ]
        if base_rows is not None:
            # the batch reduces to a bounded (kind x bucket) histogram
            # before it is collected: per-trigger drift cost is a
            # map-side partial agg plus driver math on histogram rows
            hist = stats_ops.length_histogram(
                batch,
                bins=cfg.drift.histogram_bins,
                bin_width=cfg.drift.histogram_bin_width,
            )
            rows += drift_rows(
                collect_histogram(hist, ["kind"]),
                base_rows,
                cfg,
                "drift_len_batch",
            )
        # per-batch_id dir + overwrite = idempotent on micro-batch
        # replay, same as the violations sink and the windowed drift
        # sink: foreachBatch may re-run a batch id after a crash
        # between the write and the checkpoint commit, and append to a
        # flat dir would double that batch's verdict rows. batch_id is
        # reconstructed from the partition path on read. The verdict
        # rows are partitions × checks, so one file per batch.
        verdicts = batch.sparkSession.createDataFrame(rows, VERDICTS_DDL)
        verdicts.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(verdicts_dir, f"batch_id={batch_id}")
        )
        if contract is not None:
            contract_verdicts(batch, contract).write.mode(
                "overwrite"
            ).parquet(os.path.join(contract_dir, f"batch_id={batch_id}"))

    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def windowed_span_counts(
    events: DataFrame,
    ts_col: str = "ts",
    watermark: str = "1 hour",
    window: str = "1 hour",
) -> DataFrame:
    """Event-time windowed counts with a watermark for late data — the
    streaming analog of the engine's hourly drift series (the reference
    itself has no event-time windows, SURVEY.md §2.9; this is the
    scale-path addition for streaming drift inputs)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("bucket_ts"), "n")
    )


def windowed_event_time_drift(
    spark: SparkSession,
    stream: DataFrame,
    baseline_hist: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    ts_col: str = "event_ts",
    watermark: str = "10 minutes",
    window: str = "1 hour",
    bins: int = 64,
    bin_width: int = 8,
    psi_threshold: float = 0.25,
    ks_threshold: float = 0.2,
    available_now: bool = True,
    processing_time: str = "60 seconds",
):
    """EVENT-time drift: tumbling-window span kind/length histograms
    under a ``withWatermark`` bound, scored against the stored baseline
    with the SAME ``drift_verdicts`` the batch pipeline uses.

    This is the §2.9 capability the reference lacks (its poll loop is
    pure processing time, /root/reference/main.py:394-414) but any
    100 TB stream needs: with processing-time micro-batch drift, a
    replay or a lagging upstream smears yesterday's documents into
    today's histogram; event-time windows pin every span to the hour
    it belongs to, and the watermark BOUNDS the state — a window's
    histogram is finalized and emitted exactly once when the watermark
    passes its end (append mode), and rows arriving after their
    window's finalization are dropped instead of re-opening state
    forever. (Spark detail, pinned in test_streaming: input filtering
    uses the start-of-batch watermark while eviction uses the updated
    one, so a late row landing in the very batch that finalizes its
    window still counts; anything later is dropped.)

    Scale shape: the ONLY streaming aggregation is the bounded
    (window × kind × bucket) count — the stream reduces map-side to
    histogram partials before the one stateful exchange. foreachBatch
    then scores each FINALIZED window against the broadcastable
    baseline histogram: per-window work is histogram-sized, independent
    of row volume. The per-window driver loop is bounded by windows
    finalized per trigger (normally 1), never by data.

    ``stream`` must carry ``ts_col`` (event time) plus ``spans``;
    verdict rows land under ``output_dir`` with ``window_start`` /
    ``batch_id`` columns.
    """
    from ..operators import drift as drift_ops

    hist = (
        stream.withWatermark(ts_col, watermark)
        .select(ts_col, F.explode("spans").alias("s"))
        .select(
            ts_col,
            F.coalesce(F.col("s.kind"), F.lit("__null__")).alias("kind"),
            F.least(
                F.floor(
                    F.length(F.coalesce(F.col("s.text"), F.lit("")))
                    / bin_width
                ),
                F.lit(bins - 1),
            )
            .cast("int")
            .alias("bucket"),
        )
        .groupBy(F.window(ts_col, window).alias("w"), "kind", "bucket")
        .agg(F.count("*").alias("count"))
        .select(F.col("w.start").alias("window_start"), "kind", "bucket",
                "count")
    )
    # kind-mix baseline: same histogram summed over buckets, with a
    # constant group key (drift_verdicts needs >=1 grouping column)
    base_kind = (
        baseline_hist.groupBy("kind")
        .agg(F.sum("count").alias("count"))
        .withColumnRenamed("kind", "bucket")
        .withColumn("grp", F.lit("mix"))
        .cache()
    )

    def process(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        batch = batch.cache()
        wins = [
            r.window_start
            for r in batch.select("window_start").distinct().collect()
        ]
        out = None
        for w in wins:
            cur = batch.filter(F.col("window_start") == w).drop(
                "window_start"
            )
            dv = drift_ops.drift_verdicts(
                cur,
                baseline_hist,
                keys=["kind"],
                psi_threshold=psi_threshold,
                ks_threshold=ks_threshold,
                check_prefix="drift_len_win",
            )
            kv = drift_ops.drift_verdicts(
                cur.groupBy("kind")
                .agg(F.sum("count").alias("count"))
                .withColumnRenamed("kind", "bucket")
                .withColumn("grp", F.lit("mix")),
                base_kind,
                keys=["grp"],
                psi_threshold=psi_threshold,
                ks_threshold=ks_threshold,
                check_prefix="drift_kind_win",
            )
            part = dv.unionByName(kv).withColumn(
                "window_start", F.lit(w)
            )
            out = part if out is None else out.unionByName(part)
        if out is not None:
            # overwrite under batch_id=N: a micro-batch replayed after
            # a crash (write succeeded, checkpoint commit didn't)
            # rewrites the same dir instead of duplicating finalized
            # windows — same idempotency contract as the violations
            # sink above; batch_id surfaces as a partition column
            out.write.mode("overwrite").parquet(
                os.path.join(output_dir, f"batch_id={batch_id}")
            )
        batch.unpersist()

    writer = (
        hist.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        # append mode: a window is emitted ONCE, after the watermark
        # passes its end — the late-data bound
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def stream_profile(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    columns: list[str] | None = None,
    available_now: bool = True,
    processing_time: str = "60 seconds",
    quantile_cols: list[str] | None = None,
):
    """Streaming incremental profiling: each micro-batch's mergeable
    partials (moments + HLL, operators/incremental_profile.py) fold
    into the SAME versioned state store the batch profiler uses, keyed
    by batch id — so a live stream accumulates a full-corpus profile
    without ever rescanning history, and the batch-side accessors
    (``profile``, ``profile_longform``, ``drift_since``) read it
    directly.

    Exactly-once: the file-source checkpoint assigns stable batch ids
    and ``IncrementalProfiler.append`` REFUSES an id already in state,
    so a replayed micro-batch after a crash is a loud no-op skip, not a
    double count. Returns the StreamingQuery.

    ``quantile_cols``: numeric columns to fold t-digest quantile
    digests for per micro-batch. Append-only state can NEVER backfill
    (earlier batches' rows are gone), so a set that grows mid-history
    — or disappears while digests are tracked — makes the underlying
    ``append`` raise, which surfaces as a StreamingQueryException:
    loud, by design (track the columns from the first batch or rebuild
    the state)."""
    from ..operators.incremental_profile import IncrementalProfiler

    ip = IncrementalProfiler(state_dir)
    stream = read_documents_stream(spark, input_dir)

    def process(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        keyed = batch.withColumn(
            "_batch", F.lit(int(batch_id)).cast("long")
        )
        if quantile_cols and "spans" in batch.columns:
            # same derived numeric columns the batch profiler offers
            keyed = keyed.withColumn(
                "_text_len",
                F.expr(
                    "aggregate(transform(coalesce(spans, array()),"
                    " s -> length(coalesce(s.text, ''))),"
                    " 0, (a, x) -> a + x)"
                ).cast("double"),
            ).withColumn(
                "_span_count",
                F.size(F.coalesce("spans", F.array())).cast("double"),
            )
        try:
            ip.append(keyed, "_batch", columns=columns,
                      run_id=f"batch_{batch_id}",
                      quantile_cols=quantile_cols)
        except ValueError as e:
            if "double-count" not in str(e):
                raise
            # replay of a committed batch id after failure: state
            # already holds it — idempotent skip. Logged, not silent:
            # a crash replay skips ONE batch once, but a reset
            # checkpoint against a kept state_dir restarts ids at 0
            # and would skip EVERY batch — the log stream is how the
            # two are told apart.
            import logging

            logging.getLogger(__name__).warning(
                "stream_profile: batch %s already in profiler state "
                "under %s — replay skip (if every batch logs this, "
                "the checkpoint was reset against an existing "
                "state_dir and no new data is being profiled)",
                batch_id,
                state_dir,
            )

    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def stateful_running_stats(
    stream: DataFrame,
    key_cols: list[str],
    value_col: str,
    sigma_k: float = 3.0,
    min_history: int = 30,
):
    """Custom stateful streaming operator (applyInPandasWithState):
    per-key running count/mean/variance carried across micro-batches;
    a batch is flagged when its mean deviates more than ``sigma_k``
    historical standard deviations from the carried history — the
    streaming form of the EMA+3σ drift rule (reference: running
    min/max + threshold carried across polls,
    /root/reference/model_manager.py:150-152, :213-215).

    State = (count, sum, sum_sq): merge-associative scalars, O(1) per
    key regardless of stream length — the shape that scales to
    arbitrarily long streams and arbitrarily many keys.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        if state.exists:
            cnt, s, s2 = state.get
        else:
            cnt, s, s2 = 0, 0.0, 0.0
        b_n, b_s, b_s2 = 0, 0.0, 0.0
        for pdf in pdfs:
            v = pdf[value_col].astype(float)
            b_n += len(v)
            b_s += float(v.sum())
            b_s2 += float((v * v).sum())
        if b_n == 0:
            return
        batch_mean = b_s / b_n
        # judge the batch against HISTORY ONLY (state before merging)
        is_anom = False
        if cnt >= min_history:
            hist_mean = s / cnt
            hist_var = max(0.0, s2 / cnt - hist_mean * hist_mean)
            hist_sd = hist_var ** 0.5
            if hist_sd > 1e-12:
                is_anom = abs(batch_mean - hist_mean) > sigma_k * hist_sd
            else:
                # constant history: any real deviation is an unbounded
                # -sigma jump, not a free pass (the inverse verdict)
                is_anom = abs(batch_mean - hist_mean) > 1e-9
        cnt, s, s2 = cnt + b_n, s + b_s, s2 + b_s2
        state.update((cnt, s, s2))
        yield pd.DataFrame(
            [
                {
                    **{k: key[i] for i, k in enumerate(key_cols)},
                    "batch_n": b_n,
                    "batch_mean": batch_mean,
                    "total_n": cnt,
                    "running_mean": s / cnt,
                    "is_anomaly": is_anom,
                }
            ]
        )

    out_schema = (
        ", ".join(
            f"{k} {stream.schema[k].dataType.simpleString()}" for k in key_cols
        )
        + ", batch_n long, batch_mean double, total_n long,"
        " running_mean double, is_anomaly boolean"
    )
    return stream.groupBy(*key_cols).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType="cnt long, s double, s2 double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

def stateful_cross_batch_dups(
    stream: DataFrame,
    key_col: str = "doc_id",
    n_buckets: int = 64,
    capacity_per_bucket: int = 1_000_000,
    fpp: float = 0.01,
):
    """Approximate CROSS-batch uniqueness for streams: per-bucket Bloom
    filter carried in ``applyInPandasWithState``; emits one row per key
    that is a duplicate within its micro-batch or *probably* seen in an
    earlier batch (FP rate ≤ ``fpp`` while a bucket is under capacity).

    The within-batch path (stream_validate's uniqueness_batch check) is
    exact; cross-batch exactness at 10^12 keys would need unbounded
    state, so this operator takes the honest bounded-memory trade:

    * state per bucket = one Bloom bitmap (~1.44·capacity·log2(1/fpp)/8
      bytes; defaults → ~1.2 MB/bucket) — O(1) in stream length,
    * keys are routed to buckets by hash, so state and work distribute
      across executors; scale = raise ``n_buckets`` (state shards),
      not bitmap size,
    * a bucket past ``capacity_per_bucket`` marks its output rows
      ``filter_saturated`` (FP rate degrades, detection never silently
      lies) — the exact periodic batch pass over the manifest remains
      the ground-truth tier, same split as the drift history.

    Flags are independently scoped: ``within_batch`` = a later
    occurrence inside this batch (exact); ``probable_prior`` = Bloom hit
    against state BEFORE this batch's keys are folded in (approximate).
    Reference analog: the scoring loop's seen-before membership carried
    across polls (/root/reference/log_retriever.py:234-241), re-expressed
    as sharded mergeable state instead of a process-local dict.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..functions.bloom import _optimal_params, _positions

    m, k = _optimal_params(capacity_per_bucket, fpp)
    nbytes = (m + 7) // 8

    hashed = stream.select(
        F.col(key_col),
        F.xxhash64(key_col).alias("__h1"),
        F.xxhash64(key_col, F.lit(1)).alias("__h2"),
        F.pmod(F.xxhash64(key_col, F.lit(2)), F.lit(n_buckets))
        .cast("int")
        .alias("__bucket"),
    )

    def update(key, pdfs, state):
        import numpy as np

        if state.exists:
            bits_bytes, n_added, saturated = state.get
            bits = np.frombuffer(bits_bytes, dtype=np.uint8).copy()
        else:
            bits, n_added, saturated = np.zeros(nbytes, np.uint8), 0, False
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if len(pdf) == 0:
            return
        dup_within = pdf[key_col].duplicated(keep="first").to_numpy()
        h1 = pdf["__h1"].to_numpy(np.int64).view(np.uint64)
        h2 = pdf["__h2"].to_numpy(np.int64).view(np.uint64)
        # membership vs PRIOR state (before this batch folds in)
        hit = np.ones(len(pdf), dtype=bool)
        for pos in _positions(h1, h2, k, m):
            hit &= (
                bits[pos >> 3] & (np.uint8(1) << (pos & 7).astype(np.uint8))
            ) != 0
        firsts = ~dup_within
        for pos in _positions(h1[firsts], h2[firsts], k, m):
            np.bitwise_or.at(
                bits, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8)
            )
        n_added += int(firsts.sum())
        saturated = saturated or n_added > capacity_per_bucket
        state.update((bits.tobytes(), n_added, saturated))
        mask = dup_within | hit
        if not mask.any():
            return
        out = pdf.loc[mask, [key_col]].copy()
        out["bucket"] = key[0]
        out["within_batch"] = dup_within[mask]
        out["probable_prior"] = hit[mask]
        out["filter_saturated"] = saturated
        yield out

    key_type = stream.schema[key_col].dataType.simpleString()
    return hashed.groupBy("__bucket").applyInPandasWithState(
        update,
        outputStructType=(
            f"{key_col} {key_type}, bucket int, within_batch boolean,"
            " probable_prior boolean, filter_saturated boolean"
        ),
        stateStructType="bits binary, n_added long, saturated boolean",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_sessionize(
    stream: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_s: int = 1800,
    watermark: str = "30 minutes",
):
    """Streaming gap-based sessionization (applyInPandasWithState +
    event-time timeout): the cross-batch twin of the batch
    ``sessionization`` catalog query. A session is a maximal run of a
    user's events with inter-event gaps <= ``gap_s``; sessions CLOSE
    either when a later event arrives beyond the gap (closed_by =
    'gap') or when the event-time watermark passes the open session's
    end + gap (closed_by = 'timeout') — so idle users' sessions are
    flushed without waiting for their next visit, and state never
    outlives its usefulness.

    State per user is THREE scalars (start, end, n_events) — O(keys),
    not O(events): the numpy gap-split handles any number of
    micro-batch events row-locally, and only the open tail survives
    the batch. Late rows beyond the watermark are dropped by the
    engine before they reach the state function (same contract as
    windowed_event_time_drift).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    s = stream.withWatermark(ts_col, watermark)

    def update(key, pdfs, state):
        if state.hasTimedOut:
            st, en, n = state.get
            state.remove()
            yield pd.DataFrame(
                [
                    {
                        "user": key[0],
                        "session_start": pd.to_datetime(st, unit="s"),
                        "session_end": pd.to_datetime(en, unit="s"),
                        "n_events": n,
                        "closed_by": "timeout",
                    }
                ]
            )
            return
        parts = [pdf[ts_col] for pdf in pdfs]
        if not parts:
            return
        ts = pd.concat(parts).sort_values()
        arr = ts.to_numpy().astype("datetime64[s]").astype(np.int64)
        if len(arr) == 0:
            return
        cur = state.get if state.exists else None  # (st, en, n)
        closed = []
        cuts = np.flatnonzero(np.diff(arr) > gap_s) + 1
        for seg in np.split(arr, cuts):
            if cur is not None and seg[0] - cur[1] <= gap_s:
                cur = (cur[0], int(seg[-1]), cur[2] + len(seg))
            else:
                if cur is not None:
                    closed.append(cur)
                cur = (int(seg[0]), int(seg[-1]), len(seg))
        state.update(cur)
        # flush when the watermark passes the open session's gap window
        state.setTimeoutTimestamp((cur[1] + gap_s) * 1000)
        if closed:
            yield pd.DataFrame(
                [
                    {
                        "user": key[0],
                        "session_start": pd.to_datetime(st, unit="s"),
                        "session_end": pd.to_datetime(en, unit="s"),
                        "n_events": n,
                        "closed_by": "gap",
                    }
                    for st, en, n in closed
                ]
            )

    user_t = s.schema[user_col].dataType.simpleString()
    out_schema = (
        f"user {user_t}, session_start timestamp,"
        " session_end timestamp, n_events long, closed_by string"
    )
    return (
        s.select(F.col(user_col).alias("__u"), F.col(ts_col))
        .groupBy("__u")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType="st long, en long, n long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
