"""Structured Streaming wrapper over the CDC engine.

The reference applies CDC as discrete batch files in strict order
(Batch2 -> Batch3, report §4.3); the engine's core keeps that micro-batch
replay model. This module is the optional continuous front-end: a
``readStream`` source of change-event files driven into the same
``CdcOrchestrator.apply_batch`` via ``foreachBatch`` — so the streaming
path shares the exactly-once/LWW/SCD2 machinery instead of reimplementing
it, and Spark's checkpointing handles source progress while the
LakeTable's committed-batch ids make re-delivered micro-batches no-ops.

Input accounting needs no streaming switch: a foreachBatch function runs
with the ``sql.streaming.queryId`` local property set, and the
orchestrator then counts each micro-batch with one eager aggregate job
instead of its default Observation (CollectMetrics breaks on a
micro-batch plan). The catalog and WAP thread pools carry the property
into their workers (``session.spark_map``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from tpc_di_spark.cdc.orchestrator import CdcOrchestrator
from tpc_di_spark.schemas import CHANGE_EVENT_SCHEMA


def stream_events(
    spark: SparkSession,
    source_dir: str,
    schema=CHANGE_EVENT_SCHEMA,
    max_files_per_trigger: int = 8,
) -> DataFrame:
    """File-tail source: new change-event parquet files appearing under
    ``source_dir`` become micro-batches (the binlog/WAL tail)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )


def start_cdc_stream(
    events: DataFrame,
    orchestrator: CdcOrchestrator,
    checkpoint_dir: str,
    base_batch_id: int = 1_000_000,
    mode: str = "cow",
    compact_every: int = 0,
    consumers: list | None = None,
    transform=None,
    quarantine_dir: str | None = None,
    audit_checks: list | None = None,
) -> StreamingQuery:
    """Drive a change-event stream into the lake table.

    Exactly-once composition: Spark guarantees each micro-batch id is
    re-delivered (not skipped) on restart; ``apply_batch`` keyed on
    ``base_batch_id + micro_batch_id`` makes the re-delivery idempotent,
    so the pair is end-to-end exactly-once.

    mode='mor' appends each micro-batch as merge-on-read deltas (O(batch)
    per trigger — the high-rate tail-ingest shape), optionally compacting
    every ``compact_every`` micro-batches; mode='cow' merges copy-on-write
    per micro-batch (read-optimized, heavier per trigger).

    ``consumers``: optional list of changelog consumers (``IncrementalView``
    / ``ConvStatsConsumer`` / ``lake.derived.DerivedTableSync`` — anything
    with a committed-batch-checkpointed ``refresh()``), refreshed after
    each micro-batch's apply —
    the full binlog-in -> lake -> binlog-out -> materialized-view loop in
    one streaming tail. Exactly-once across restart composes for free:
    a consumer checkpoint advances only through COMMITTED batch ids and
    its state flip is atomic, so a re-delivered micro-batch (apply no-op)
    followed by a re-refresh (empty pending range) is a no-op end to end.
    Under mode='mor' each consumer holds below the pending deltas and
    catches up at compaction (the materialization horizon).

    ``transform``: optional ``raw_batch -> (events, quarantine)`` parse
    applied INSIDE each micro-batch (e.g. the Debezium tail's
    ``parse_debezium``); rejected rows land under ``quarantine_dir`` in
    a per-epoch subdirectory — overwritten on re-delivery, so quarantine
    output is exactly-once alongside the apply.

    ``audit_checks``: optional write-audit-publish gate (``lake/wap.py``;
    mode='cow' only — MoR deltas are raw appends with nothing new to
    audit until the read-time fold; requires ``quarantine_dir`` so an
    aborted epoch is never silently discarded). Each micro-batch stages
    on a branch
    ref, runs the checks, and publishes on pass; a FAILING micro-batch
    aborts the branch (readers never see it), writes the raw batch and
    audit report under ``quarantine_dir``, and the stream continues —
    a poisoned epoch costs its own events, not the pipeline. Restart
    idempotence is unchanged: a re-delivered published epoch re-stages
    as a no-op (batch id committed on main) and re-publishes nothing;
    a re-delivered aborted epoch re-fails and overwrites its quarantine.
    """
    from tpc_di_spark.cdc.mor import apply_batch_mor, compact_deltas

    if audit_checks and mode == "mor":
        raise ValueError("audit_checks requires mode='cow' (see docstring)")
    if audit_checks and quarantine_dir is None:
        # An audit-failed micro-batch is aborted — without a quarantine
        # destination its events would be silently discarded (permanent
        # data loss with no operator signal). Refuse up front.
        raise ValueError(
            "audit_checks requires quarantine_dir: aborted micro-batches "
            "must land somewhere an operator can inspect and replay"
        )

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        bid = base_batch_id + int(epoch_id)
        if transform is not None:
            batch_df, quarantine = transform(batch_df)
            if quarantine_dir is not None:
                quarantine.write.mode("overwrite").parquet(
                    f"{quarantine_dir}/epoch-{int(epoch_id):06d}"
                )
        if mode == "mor":
            apply_batch_mor(orchestrator, batch_df, bid)
            if compact_every and (int(epoch_id) + 1) % compact_every == 0:
                compact_deltas(orchestrator)
        elif audit_checks:
            from tpc_di_spark.lake.wap import AuditFailed, WapBranch

            wap = WapBranch.begin(orchestrator.table, f"epoch-{int(epoch_id):06d}")
            orchestrator.for_table(wap.staged).apply_batch(batch_df, bid)
            try:
                wap.audit(audit_checks)
                wap.publish()
            except AuditFailed as e:
                wap.abort()
                import json as _json

                # quarantine_dir is guaranteed non-None (checked at
                # stream start) — an aborted epoch is never discarded.
                edir = f"{quarantine_dir}/audit-failed-epoch-{int(epoch_id):06d}"
                batch_df.write.mode("overwrite").parquet(edir)
                # Unconditional PUT: a restarted stream re-failing the
                # same epoch overwrites its previous report.
                orchestrator.table.fs.write_text(
                    f"{edir}/_audit.json", _json.dumps(e.results)
                )
            orchestrator.table.refresh()
        else:
            orchestrator.apply_batch(batch_df, bid)
        for c in consumers or ():
            c.refresh()

    return (
        events.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_cdc_multi_stream(
    events: DataFrame,
    catalog,
    work: dict,
    checkpoint_dir: str,
    base_batch_id: int = 1_000_000,
) -> StreamingQuery:
    """Drive ONE change-event stream into MANY lake tables with atomic
    cross-table visibility per micro-batch (lake/catalog.py): each
    trigger routes the micro-batch per table, applies every table's
    slice through the normal exactly-once merge, then publishes all new
    snapshot ids with one catalog CAS.

    ``work`` maps table name -> ``(CdcOrchestrator, route)`` where
    ``route`` is a per-micro-batch ``DataFrame -> DataFrame`` slice/
    reshape for that table (``None`` = the whole batch). The same fan-out
    the reference runs as sequential per-table scripts (Incremental1/,
    report §4.3) — but readers joining through the catalog never observe
    a half-applied trigger.

    Exactly-once composition is unchanged from :func:`start_cdc_stream`
    plus the catalog's idempotent republish: a crash after SOME tables
    committed re-delivers the micro-batch, the committed tables skip,
    the rest apply, and the single CAS publishes the consistent set —
    catalog readers meanwhile stay on the previous trigger's snapshots.
    """
    from tpc_di_spark.lake.catalog import apply_batch_atomic

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        bid = base_batch_id + int(epoch_id)
        apply_batch_atomic(
            catalog,
            {
                name: (orch, route(batch_df) if route is not None else batch_df)
                for name, (orch, route) in work.items()
            },
            batch_id=bid,
            summary={"streaming_epoch": int(epoch_id)},
        )

    return (
        events.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
