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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import DEFAULT_CONFIG, ValidationConfig
from ..operators.drift import collect_histogram
from ..operators.referential import ReferentialCheck
from ..plans.pipeline import drift_rows, validate_scope, verdict_rows
from ..schema import DOCUMENTS_SCHEMA, VERDICTS_DDL, local_frame


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
    stream's lifetime (catalog size, Bloom filter); a micro-batch reads
    only the catalog's key column — broadcast whole within the cap, else
    one semi-join scan against the batch's distinct refs (the
    probe-side shape, operators/referential.py). An empty micro-batch
    ends at its first (discovery) action, and without
    ``emit_violations`` no wide scan runs: the verdicts need only the
    narrow pass.

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
        res = validate_scope(
            batch,
            ref,
            cfg,
            out_dir=(
                os.path.join(violations_dir, f"batch_id={batch_id}")
                if emit_violations
                else None
            ),
            histogram=base_rows is not None,
            emit=emit_violations,
        )
        if res is None:  # an empty micro-batch
            return
        rows = [
            ("uniqueness_batch", *r[1:]) if r[0] == "uniqueness" else r
            for r in verdict_rows(
                res.grid,
                [(pid, res.partitions[pid].n_rows) for pid in res.pending],
                has_catalog=ref is not None,
                cfg=cfg,
            )
        ]
        if base_rows is not None:
            # the batch reduces to a bounded (kind x bucket) histogram
            # before it is collected: per-trigger drift cost is a
            # map-side partial agg plus driver math on histogram rows
            rows += drift_rows(
                res.hist_rows, base_rows, cfg, "drift_len_batch"
            )
        # per-batch_id dir + overwrite = idempotent on micro-batch
        # replay, same as the violations sink: foreachBatch may re-run
        # a batch id after a crash between the write and the
        # checkpoint commit, and append to a flat dir would double
        # that batch's verdict rows. batch_id is
        # reconstructed from the partition path on read. The verdict
        # rows are partitions × checks, so one file per batch.
        verdicts = local_frame(batch.sparkSession, rows, VERDICTS_DDL)
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
