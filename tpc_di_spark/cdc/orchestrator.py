"""Batch orchestrator: exactly-once CDC apply with mid-batch resume.

Replaces the reference's AWS Step Functions chain (report §4.2-4.3) with a
deterministic local protocol. Every way a batch reaches the table —
``apply_batch``, ``apply_snapshot_batch``, ``apply_late_batch``, MoR
delta appends and MoR delta compaction (``cdc/mor.py``) — runs ONE apply
core, :meth:`CdcOrchestrator._apply`, in this order:

1. **Entry guard**: ``batch_id >= 1`` (negative ids are the delete-
   tombstone marker, ``cdc/apply.py``), refresh, exactly-once skip,
   transactional schema evolution (a batch carrying new payload columns
   evolves the schema in a metadata-only commit first, per north_rule),
   ``align_events``.
2. **Input accounting** (:meth:`~CdcOrchestrator._account`): total,
   NULL-business-key and (snapshot chunks) delete counts ride a lazy
   ``Observation`` inside the first job that reads the batch — zero extra
   passes. Inside a Structured Streaming micro-batch (local property
   ``sql.streaming.queryId`` set; foreachBatch threads carry it, and the
   catalog/WAP pools inherit it) CollectMetrics breaks, so there the same
   counts come from one eager aggregate job. The counts are checked
   against ``null_key_policy`` before any manifest is sealed.
3. **Per group: reuse the sealed manifest, or plan → write → seal**. The
   touched buckets are split into groups (or one whole-table group); each
   group's rows are written under a deterministic commit tag and sealed
   with a ``.done`` manifest (file lists, per-bucket row counts = partition
   lineage, the group geometry, and the snapshot the rows were computed
   against). A resumed run reuses a sealed group only while the table is
   still at that snapshot — snapshot chunks and late batches interleave
   with the tail, and rows planned against an older state are stale. A
   MoR delta never reads the table, so its basis names the call instead
   of the snapshot: a conflict retry re-commits the sealed files.
4. **One atomic snapshot commit** — the single commit point: a crash
   anywhere before it leaves the old table state fully live (the
   reference's per-row INSERT stream has no such property; a killed
   Lambda leaves half a batch applied,
   `Incremental1/IncrementalAccount.py:218-343`).
5. **Duel skip**: a commit that hit the exactly-once guard without
   flipping means a duelling driver landed this batch id first. A
   :class:`CommitConflict` re-runs the core (:meth:`_retrying`).
6. **Staging cleanup**, then 7. **one metrics record** per batch in
   ``_metrics/`` (fields per operation: README "Per-batch metrics
   record"), the opt-in compaction policy, and the optional DImessages
   status row.

An entry point supplies only its row-set planner and its commit/record
fields (:class:`_Op`). ``apply_snapshot_batch`` folds late initial-
snapshot chunks under tail deletes (DBLog rule); ``apply_late_batch``
applies a missed batch after higher-numbered ones under the supersession
rule — final current state is arrival-order independent.
"""

from __future__ import annotations

import json
import operator
import os
import time
from dataclasses import dataclass, field
from functools import reduce
from typing import Callable, Sequence

import pyspark.sql.functions as F
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql.types import StructField, StructType

from tpc_di_spark.cdc.apply import (
    ENVELOPE_COLS,
    LINEAGE_COLS,
    align_events,
    data_cols,
    insert_only_rows,
    lww_dedup,
    merge_batch_rows,
)
from tpc_di_spark.lake.table import CommitConflict, LakeTable


def staging_dir(table_path: str, batch_id: int) -> str:
    """Checkpoint-manifest directory of one in-flight batch."""
    return os.path.join(table_path, "_staging", f"batch-{batch_id:06d}")


def metrics_path(table_path: str, batch_id: int) -> str:
    """The batch's ``_metrics`` record."""
    return os.path.join(table_path, "_metrics", f"batch-{batch_id:06d}.json")


def _skipped(batch_id: int) -> dict:
    return {"batch_id": batch_id, "skipped": "already-committed"}


@dataclass
class _Op:
    """What one entry point supplies to the apply core."""

    operation: str  # commit summary and metrics-record "operation"
    # (src, buckets) -> (rows, bucket_aligned): the row set one group
    # writes. ``src`` is the LWW-deduped batch (carrying _bucket) limited
    # to ``buckets``; None = the whole-table single group.
    plan: Callable[[DataFrame, list | None], tuple[DataFrame, bool]]
    grouped: bool = False  # bucket-group resume granularity (cdc-apply)
    # "append" adds an insert set (snapshot chunks); it closes nothing,
    # so a 'D' event would be silently dropped — the accounting refuses it.
    # "delta" writes a MoR delta batch: its files go into the
    # delta_batches property (``properties``), not the base file map.
    mode: str = "replace"
    # False: the batch id is already committed (MoR delta compaction) —
    # no exactly-once skip, no batch id on the commit and no null-key
    # policy (the delta append accepted these events; compaction must
    # not change the live view).
    claims_batch: bool = True
    # commit-tag prefix of the written files: compact-delta-NNNNNN is the
    # changelog's closing-batch tag for materialized deltas
    tag: str = "batch"
    # what the sealed rows were computed from; None = the base snapshot
    basis: list | None = None
    refuse_pending: bool = False  # refuse while MoR deltas are pending
    summary: dict = field(default_factory=dict)
    # (written current files) -> new table properties
    properties: Callable[[dict], dict] | None = None
    extra: Callable[[dict], dict] = lambda record: {}  # extra record keys


class CdcOrchestrator:
    def __init__(
        self,
        table: LakeTable,
        buckets_per_group: int = 8,
        messages_log=None,
        auto_compact_files_per_bucket: int = 0,
        null_key_policy: str = "error",
    ):
        self.table = table
        self.spark = table.spark
        self.buckets_per_group = buckets_per_group
        # Optional plans.messages.MessagesLog: one queryable DImessages
        # status row per applied batch (the reference's "Status: Inserted
        # rows" insert, `Historical/prospect.py:158-163`). Opt-in — the
        # metrics JSON remains the zero-extra-job default.
        self.messages_log = messages_log
        # NULL-business-key events are upstream garbage: an equi-join
        # merge can never match them again, so once written they are
        # unreachable junk rows (and pre-round-6 they silently VANISHED
        # from the merge — the presence-marker fix in cdc/apply.py makes
        # them visible instead). Policy: "error" (default) fails the
        # batch when any key column is NULL — counted inside the input
        # accounting, so it costs nothing extra. "drop" filters them out
        # in the same scan and reports events_null_key in the metrics.
        if null_key_policy not in ("error", "drop"):
            raise ValueError(f"unknown null_key_policy {null_key_policy!r}")
        self.null_key_policy = null_key_policy
        # Opt-in compaction policy: after each committed batch, buckets
        # whose TOTAL file count (current + history) exceeds this are
        # rewritten by lake.maintenance.compact. The history family is
        # append-only, so every batch adds one hist file per touched
        # bucket — without a policy, file count grows linearly with batch
        # count and the scan's file-open overhead with it. 0 disables
        # (callers schedule compaction themselves, like the bench).
        self.auto_compact_files_per_bucket = auto_compact_files_per_bucket

    def for_table(self, table: LakeTable) -> "CdcOrchestrator":
        """Same configuration over a different table handle — the WAP
        staging pattern (drive a branch handle through an orchestrator
        configured like the main one)."""
        return CdcOrchestrator(
            table,
            buckets_per_group=self.buckets_per_group,
            messages_log=self.messages_log,
            auto_compact_files_per_bucket=self.auto_compact_files_per_bucket,
            null_key_policy=self.null_key_policy,
        )

    # ------------------------------------------------------- accounting
    def _account(
        self, events: DataFrame, batch_id: int, policy: str | None, refuse_deletes: bool
    ):
        """The input accounting: returns ``(events, resolve)``. Call
        ``resolve()`` once a job has materialized the batch, or
        ``resolve(force=True)`` when none did (every group resumed from
        its manifest: one counting pass). It returns ``(events_in,
        events_null_key)`` and enforces the input contract — the null-key
        policy and, for an append, no 'D' events — BEFORE any seal or
        commit, so a bad batch never becomes visible and never leaves a
        reusable manifest.

        By default an :class:`Observation` computes the counts INSIDE the
        first job that materializes the batch (the grouped path's bucket-
        count job, or the single group's merge write) instead of a
        dedicated ``agg().collect()`` pass — at sf0.1 that pass was ~40%
        of a batch's wall time. Two cases count in one eager aggregate
        job instead, checked before anything is written: a streaming
        micro-batch (the ``sql.streaming.queryId`` local property is set),
        where the observed node stack-overflows the stream thread on
        re-planning; and an append (snapshot chunk, a one-shot bootstrap
        path), so a misrouted tail batch is refused before it writes. The
        "drop" filter sits ABOVE the counts, so events_in is the pre-drop
        total."""
        key_null = reduce(operator.or_, [F.col(k).isNull() for k in self.table.key_cols])
        aggs = [
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(key_null.cast("long")), F.lit(0)).alias("nn"),
        ]
        if refuse_deletes:
            is_del = (F.col("cdc_flag") == F.lit("D")).cast("long")
            aggs.append(F.coalesce(F.sum(is_del), F.lit(0)).alias("nd"))
        source, counts = events, None
        if refuse_deletes or self.spark.sparkContext.getLocalProperty(
            "sql.streaming.queryId"
        ):
            counts = source.agg(*aggs).collect()[0].asDict()
        else:
            obs = Observation()
            events = observed = events.observe(obs, *aggs)

        def resolve(force: bool = False) -> tuple[int, int]:
            c = counts
            if c is None:
                if force:
                    observed.count()
                try:
                    c = obs.get
                except Py4JJavaError:
                    # The action carried no metrics: AQE replaced the
                    # observed subtree by an empty relation (an empty
                    # batch, or a planner that kept none of it). Count
                    # directly — one job, only in that degenerate case.
                    c = source.agg(*aggs).collect()[0].asDict()
            if c["nn"] and policy == "error":
                raise ValueError(
                    f"batch {batch_id}: {c['nn']} events carry NULL business-"
                    f"key columns ({list(self.table.key_cols)}) — upstream "
                    "garbage an equi-join merge can never match again. Fix "
                    "the source, or construct the orchestrator with "
                    "null_key_policy='drop' to filter and count them."
                )
            if c.get("nd"):
                # A snapshot is a set of point-in-time READS — 'D' cannot
                # occur; its presence means tail events were routed here.
                raise ValueError(
                    "snapshot batch contains 'D' events — deletes belong on "
                    "the tail path (apply_batch); routing them here would "
                    "silently drop them"
                )
            return c["n"], c["nn"]

        if counts is not None:
            resolve()  # eager counts: enforce the contract before any write
        if policy == "drop":
            events = events.filter(~key_null)
        return events, resolve

    # ------------------------------------------------------------ utilities
    def _geometry(self, group_buckets: list | None) -> dict:
        """Group geometry stamped into every checkpoint manifest. A batch
        killed mid-apply and resumed under a different geometry (e.g.
        grouped -> single-group) must NOT reuse a manifest that covers only
        part of the new group's buckets — the resume would silently drop
        every bucket absent from the stale manifest."""
        return {
            "buckets_per_group": self.buckets_per_group,
            "num_buckets": self.table.num_buckets,
            "group_buckets": group_buckets,  # None = whole-table single group
        }

    def _sealed(self, path: str, buckets: list | None, basis: list) -> dict | None:
        """The group's sealed manifest when it is reusable: same group
        geometry, computed by the same operation against the snapshot the
        table is still at, and every file still on disk."""
        fs = self.table.fs
        if not fs.exists(path):
            return None
        m = json.loads(fs.read_text(path))
        ok = (
            m.get("geometry") == self._geometry(buckets)
            and m.get("basis") == basis
            and all(
                fs.exists(os.path.join(self.table.path, rel))
                for fmap in (m["files"], m["hist_files"])
                for fl in fmap.values()
                for rel in fl
            )
        )
        return m if ok else None

    def _maybe_auto_compact(self, record: dict) -> None:
        """Post-commit compaction policy (see __init__): bounds per-bucket
        file counts under the append-only history family. Runs OUTSIDE the
        batch's atomic commit — a crash here loses nothing (the batch is
        already durable; compaction is its own snapshot and re-triggers
        next batch)."""
        if self.auto_compact_files_per_bucket <= 0:
            return
        from tpc_di_spark.lake.maintenance import compact

        stats = compact(
            self.table, max_files_per_bucket=self.auto_compact_files_per_bucket
        )
        if stats["compacted_buckets"]:
            record["auto_compact"] = stats
        # On indexed tables the same policy bounds SIDECAR count: each
        # commit adds one, and probe-time metadata loads are O(sidecars).
        # Consolidation is metadata-only (no data moves), so riding the
        # compaction trigger keeps both file and sidecar growth bounded
        # by one knob.
        if self.table.snapshot.properties.get("index.bloom.column"):
            from tpc_di_spark.lake.maintenance import consolidate_blooms

            try:
                brec = consolidate_blooms(
                    self.table, max_sidecars=max(self.auto_compact_files_per_bucket, 4)
                )
            except CommitConflict:
                # Opportunistic maintenance racing a duelling writer: the
                # BATCH already committed, so surfacing the conflict here
                # would make a successful apply look failed to callers
                # (aborting run_replay mid-run). Record and move on — the
                # next batch's trigger retries consolidation.
                record["auto_consolidate_blooms"] = {"skipped": "commit-conflict"}
                return
            if brec.get("consolidated"):
                record["auto_consolidate_blooms"] = brec

    def _maybe_evolve(self, events: DataFrame, batch_id: int) -> None:
        """Transactional evolve-then-apply: add payload columns the batch
        introduces (e.g. ``tool``) before touching any data."""
        known = set(data_cols(self.table)) | set(ENVELOPE_COLS)
        new_fields = [f for f in events.schema.fields if f.name not in known]
        if not new_fields:
            return
        old = self.table.schema
        # Insert new payload columns before the lineage block, keeping a
        # stable human-readable order.
        lineage = [f for f in old.fields if f.name in LINEAGE_COLS]
        payload = [f for f in old.fields if f not in lineage]
        evolved = StructType(
            payload + [StructField(f.name, f.dataType, True) for f in new_fields] + lineage
        )
        self.table.evolve_schema(evolved)

    # ------------------------------------------------------------ the core
    def _enter(
        self,
        events: DataFrame,
        batch_id: int,
        claims_batch: bool = True,
        refuse_pending: bool = False,
    ) -> DataFrame | None:
        """Entry guard of every apply path: the batch aligned to the
        (possibly evolved) table schema, or None when its id is already
        committed. Negative batch ids are the delete-tombstone marker
        (cdc/apply.py) — real batches must stay strictly positive. Every
        refusal comes BEFORE the schema evolution, which is a commit of
        its own: a refused batch leaves no snapshot."""
        if batch_id <= 0:
            raise ValueError(f"batch_id must be >= 1, got {batch_id}")
        lineage = [c for c in events.columns if c in LINEAGE_COLS]
        if lineage:
            raise ValueError(
                f"events carry lineage column(s) {lineage}: the apply stamps "
                "those itself — rename or drop them before applying"
            )
        self.table.refresh()
        if claims_batch and self.table.is_batch_committed(batch_id):
            return None
        if refuse_pending:
            from tpc_di_spark.cdc.mor import pending_delta_batches

            # Snapshot chunks and late batches read changed_keys_since —
            # the created/closed sets of the committed batches above their
            # watermark — which reads DATA files: keys touched only in
            # uncompacted MoR deltas are invisible to it, so applying now
            # could resurrect a delta-deleted key.
            if pending_delta_batches(self.table):
                raise ValueError(
                    "pending MoR delta batches exist — compact them first: "
                    "the keys they touch are not yet visible to "
                    "changed_keys_since"
                )
        self._maybe_evolve(events, batch_id)
        return align_events(events, self.table)

    def _apply(self, events: DataFrame, batch_id: int, op: _Op) -> dict:
        """The one stage → write → seal → commit → record path (module
        docstring, steps 1-7). Raises :class:`CommitConflict` when another
        writer advanced the table; the caller decides what to recompute."""
        t0 = time.monotonic()
        fs = self.table.fs
        staging = staging_dir(self.table.path, batch_id)
        events = self._enter(events, batch_id, op.claims_batch, op.refuse_pending)
        if events is None:
            # A committed batch's staging is garbage: an attempt of ours
            # that lost the commit race to a duelling driver, or a killed
            # run's.
            fs.rmtree(staging)
            return _skipped(batch_id)
        policy = self.null_key_policy if op.claims_batch else None
        events, resolve = self._account(
            events, batch_id, policy, refuse_deletes=op.mode == "append"
        )

        # ONE exchange for the whole batch: repartition the events to the
        # table's bucket layout BEFORE the LWW groupBy. The groupBy's
        # ClusteredDistribution(key) is satisfied by that partitioning
        # (no aggregate exchange), the merge join against the bucketed
        # target scan is satisfied by it (no join exchange), and the
        # family-split write is bucket-co-located by it (no write
        # exchange). Trade: the LWW fold loses its pre-shuffle partial
        # combine, so a key duplicated k times in one batch ships k rows
        # instead of O(partitions) — CDC batches carry ~1-2 events/key,
        # and the hot-CONVERSATION skew story is unchanged (full-key
        # bucketing spreads a hot conversation's turns over all buckets).
        deduped = self.table.with_bucket(
            lww_dedup(self.table.bucket_partitioned(events), self.table.key_cols)
        )
        # Sparse batches merge bucket group by bucket group (resume per
        # group, only touched buckets rewritten). A batch whose group
        # spans the whole table merges in ONE pass (generation -> dedup
        # shuffle -> merge join -> write) and skips the touched-bucket
        # discovery job, which would recompute the dedup: right when
        # batches touch most buckets anyway (bulk replays, benches).
        grouped = op.grouped and self.buckets_per_group < self.table.num_buckets
        base = self.table.snapshot  # every group is planned against it
        basis = op.basis or [op.operation, base.snapshot_id, base.summary.get("committed_at")]
        counted = bucket_counts = None
        files: dict[str, list[str]] = {}
        hist: dict[str, list[str]] = {}
        stats: dict[str, list] = {}
        group_metrics = []
        if grouped:
            # Persist BEFORE the bucket-count job so that ONE pass
            # computes the dedup DAG: the count materializes the cache
            # and every group's merge reads from it (for changelog-
            # derived batches that DAG is itself joins over the parent
            # table). At cluster scale this caches the batch, never the
            # table.
            deduped.persist()
        try:
            if grouped:
                # One job yields both the touched-bucket set and per-bucket
                # event counts (metadata-sized collect: <= num_buckets
                # rows), and resolves the accounting before any write.
                bucket_counts = {
                    r[0]: r[1]
                    for r in deduped.groupBy(LakeTable.BUCKET_COL).count().collect()
                }
                counted = resolve()
                touched = sorted(bucket_counts)
                groups = [
                    touched[i : i + self.buckets_per_group]
                    for i in range(0, len(touched), self.buckets_per_group)
                ]
            else:
                groups = [None]
            fs.makedirs(staging)
            for gi, buckets in enumerate(groups):
                manifest_path = os.path.join(staging, f"group-{gi:03d}.done.json")
                sealed = self._sealed(manifest_path, buckets, basis)
                if sealed is not None:
                    sealed["metrics"]["resumed"] = True
                else:
                    g0 = time.monotonic()
                    src = deduped
                    if buckets is not None:
                        src = deduped.filter(F.col(LakeTable.BUCKET_COL).isin(buckets))
                    rows, aligned = op.plan(src, buckets)
                    gfiles, ghist = self.table.write_data_files(
                        self.table.with_bucket(rows),
                        f"{op.tag}-{batch_id:06d}/group-{gi:03d}",
                        assume_bucket_partitioned=aligned,
                    )
                    if counted is None:  # the write materialized the batch
                        counted = resolve()
                    lineage_rows, fstats = self.table.footer_stats(gfiles, ghist)
                    sealed = {
                        "files": gfiles, "hist_files": ghist, "file_stats": fstats,
                        "geometry": self._geometry(buckets), "basis": basis,
                        "metrics": {
                            "group": gi,
                            "buckets": buckets if buckets is not None else sorted(
                                int(b) for b in set(gfiles) | set(ghist)
                            ),
                            "events": (
                                sum(bucket_counts[b] for b in buckets) if grouped else None
                            ),
                            "rows_written": lineage_rows,
                            "secs": round(time.monotonic() - g0, 3),
                        },
                    }
                    fs.replace_text(manifest_path, json.dumps(sealed))
                files.update(sealed["files"])
                for b, fl in sealed["hist_files"].items():
                    hist.setdefault(b, []).extend(fl)
                stats.update(sealed["file_stats"])
                group_metrics.append(sealed["metrics"])
        finally:
            if grouped:
                deduped.unpersist(blocking=False)
        if counted is None:  # every group resumed: nothing read the events
            counted = resolve(force=True)
        n_events, n_null = counted

        # Buckets whose current rows this apply re-derived: the touched
        # ones of a grouped merge; EVERY pre-existing current bucket of a
        # whole-table merge (any may have lost all its rows to deletes);
        # only the new files' buckets of an append or a delta. History is
        # append-only under every mode.
        if op.mode != "replace":
            scope = set()
        elif grouped:
            scope = {str(b) for b in bucket_counts}
        else:
            scope = set(base.files)
        replaced = scope | set(files)
        before = self.table.snapshot.snapshot_id
        snap = self.table.commit(
            # a delta's files ride its delta_batches property, so plain
            # read() keeps returning materialized SCD2 rows only
            new_files_by_bucket={} if op.mode == "delta" else files,
            mode="replace" if op.mode == "replace" else "append",
            replaced_buckets=replaced,
            batch_id=batch_id if op.claims_batch else None,
            append_hist_by_bucket=hist,
            new_file_stats=stats,
            summary={"operation": op.operation, "events": n_events, **op.summary},
            new_properties=op.properties(files) if op.properties else None,
        )
        # The staging manifests memoize only THIS attempt: drop them with
        # it whether it committed or lost the duel below.
        fs.rmtree(staging)
        if snap.snapshot_id == before:
            # commit() hit its exactly-once guard without flipping: a
            # duelling driver landed this batch id first. Our salted-
            # attempt files are unreferenced (expire-swept).
            return _skipped(batch_id)

        elapsed = time.monotonic() - t0
        n_deduped = sum(g["events"] for g in group_metrics) if grouped else None
        rate = n_events or n_deduped
        record = {
            "batch_id": batch_id,
            "operation": op.operation,
            "snapshot_id": snap.snapshot_id,
            "events_in": n_events,
            "events_null_key": n_null,
            "events_after_lww": n_deduped,
            "buckets_touched": len(replaced),
            "groups": group_metrics,
            "secs": round(elapsed, 3),
            "events_per_sec": round(rate / elapsed, 1) if rate and elapsed > 0 else None,
        }
        record.update(op.extra(record))
        self._maybe_auto_compact(record)
        path = metrics_path(self.table.path, batch_id)
        fs.makedirs(os.path.dirname(path))
        fs.replace_text(path, json.dumps(record))
        self._emit_status(record)
        return record

    def _merge_plan(self, batch_id: int):
        """Row-set planner of the CoW merge (``apply_batch``, late
        batches, and MoR compaction under the ORIGINAL batch id, so the
        materialized lineage equals an all-CoW replay).

        Only the CURRENT file family joins the merge: history files are
        immutable closed versions the merge can never touch, so skipping
        them halves-or-better the per-batch scan as history accumulates.
        ``read_bucketed`` exposes the scope as a catalog bucketed scan, so
        the full-outer merge join plans with NO Exchange above the table
        side and its output stays bucket-partitioned — the write then
        skips its repartition too, but only when the scan really was
        bucketed (a plain-scan fallback leaves the join's layout to the
        planner, and the partitionBy write would emit partitions x buckets
        small files; see LakeTable._bucket_clustered). A scope with no
        current rows (historical load / bootstrap) skips the join: the
        insert-only projection of the bucket-partitioned batch."""

        def plan(src: DataFrame, buckets: list | None):
            t = self.table
            src = src.drop(LakeTable.BUCKET_COL)
            live = t.snapshot.files
            if buckets is not None:
                live = [b for b in buckets if live.get(str(b))]
            if not live:
                return insert_only_rows(src, batch_id, t), t.spark_aligned
            tgt, aligned = t.read_bucketed(family="current", buckets=buckets)
            return merge_batch_rows(tgt, src, batch_id, t), aligned

        return plan

    # ------------------------------------------------------------ main apply
    def apply_batch(self, events: DataFrame, batch_id: int, retries: int = 2) -> dict:
        """Apply one CDC batch exactly once, with optimistic-concurrency
        retry: a :class:`CommitConflict` means another writer advanced the
        table between this apply's snapshot read and its commit CAS, so
        the staged merge (computed against the stale snapshot) is
        discarded and the whole apply recomputes against the new state —
        the Iceberg commit-retry rule, which a CoW merge needs in full
        (its output depends on the target rows, so nothing staged is
        salvageable). The re-run's ``is_batch_committed`` check also
        resolves the duelling-driver case where the competing writer
        committed THIS batch id. Bounded (default 2 re-computations) so
        livelock surfaces as the underlying conflict."""
        op = _Op("cdc-apply", self._merge_plan(batch_id), grouped=True)
        return self._retrying(events, batch_id, op, retries)

    def _retrying(self, events: DataFrame, batch_id: int, op: _Op, retries: int) -> dict:
        """:meth:`_apply`, re-run on :class:`CommitConflict` at most
        ``retries`` times. Each re-run re-enters against the refreshed
        table, and the sealed manifests' basis decides what it reuses: a
        group planned against the old snapshot is recomputed, a MoR delta
        (basis without a snapshot) is re-committed as written."""
        try:
            return self._apply(events, batch_id, op)
        except CommitConflict:
            if retries <= 0:
                raise
        return self._retrying(events, batch_id, op, retries - 1)

    # ------------------------------------------------- snapshot handover
    def apply_snapshot_batch(
        self, events: DataFrame, batch_id: int, tail_start_batch: int = 0
    ) -> dict:
        """Apply one initial-/incremental-snapshot chunk (Debezium
        ``op='r'``) that may arrive AFTER tail batches were already
        applied — the CDC bootstrap-handover problem.

        The reference sidesteps handover by strict sequencing (the
        historical load completes before Batch2 starts, report §4.3);
        a real binlog consumer cannot: connectors emit snapshot chunks
        interleaved with the WAL tail (Debezium incremental snapshots /
        Netflix DBLog watermark windows), and this engine's cross-batch
        ordering is batch-id-first, so pushing a late point-in-time read
        through ``apply_batch`` would clobber newer tail rows and
        resurrect tail-deleted keys. Instead a snapshot chunk applies as
        MERGE WHEN NOT MATCHED **insert-if-absent**:

        - keys the tail touched since the handover watermark
          (``changed_keys_since(tail_start_batch)`` — created OR closed,
          so tail deletes are honored, INCLUDING deletes that matched no
          row yet: those leave ``batch_id = -batch`` tombstones, see
          ``cdc/apply.py``) are dropped: the DBLog chunk-vs-window dedup
          rule, resolved consumer-side. The set is exact; when a
          compaction/rebucket followed a tail batch whose committing
          snapshot has since expired, its close set is unrecoverable and
          the chunk is refused (``ValueError``) rather than planned
          against a guessed set;
        - keys already live in the table (pre-existing rows, overlapping
          or re-delivered chunks) are dropped: a point-in-time read
          never creates a new SCD2 version;
        - the remainder inserts as new current rows via the normal
          family-split write + exactly-once snapshot commit.

        A 'D' event fails the chunk before anything is written (counted
        in the eager input accounting). A chunk killed after its seal is
        recomputed when a tail batch committed in between: the sealed
        insert set was planned against the older state.

        One-shot bootstrap path: the two anti-joins cost one scan of the
        tail-touched keys (file-skipped, O(changed since watermark)) and
        one column-pruned scan of live keys — acceptable at handover
        time, not a steady-state cost. ``tail_start_batch`` is the
        batch watermark recorded when the snapshot read began (0 for a
        table born at handover).
        """
        from tpc_di_spark.lake.changelog import changed_keys_since

        key = list(self.table.key_cols)

        def plan(src: DataFrame, _buckets):
            touched = changed_keys_since(self.table, tail_start_batch)
            src = src.join(touched.select(*key), on=key, how="left_anti")
            if self.table.snapshot.files:
                live = self.table.read(family="current").filter(F.col("is_current"))
                src = src.join(live.select(*key), on=key, how="left_anti")
            # Not bucket-aligned: the anti-joins' output layout is the
            # planner's choice — let the write re-cluster the (small)
            # surviving insert set.
            rows = insert_only_rows(src.drop(LakeTable.BUCKET_COL), batch_id, self.table)
            return rows, False

        def extra(record: dict) -> dict:
            inserted = sum(
                n for g in record["groups"] for n in g["rows_written"].values()
            )
            return {
                "tail_start_batch": tail_start_batch,
                "rows_inserted": inserted,
                "rows_dropped_stale_or_present": record["events_in"] - inserted,
            }

        return self._apply(events, batch_id, _Op(
            "snapshot-handover", plan, mode="append",
            refuse_pending=True,
            summary={"tail_start_batch": tail_start_batch}, extra=extra,
        ))

    def apply_late_batch(
        self,
        events: DataFrame,
        batch_id: int,
        quarantine_dir: str | None = None,
        retries: int = 2,
    ) -> dict:
        """Apply a MISSED batch that arrives after higher-numbered batches
        already committed — out-of-order tail repair (a redelivered WAL
        segment, a stalled connector partition catching up).

        The engine's cross-batch logical order is batch-id-first
        (``apply_batch`` expires whatever is current), so pushing a late
        batch through the normal path would clobber newer rows and
        resurrect newer deletes. Instead the late batch is applied under
        the supersession rule that makes the FINAL CURRENT STATE
        independent of arrival order:

        - events whose key was changed by ANY batch with id > this one
          (``changed_keys_since(table, batch_id)`` — created or closed,
          tombstones included, so newer deletes are honored; exact, and
          it refuses when a newer batch's close set is past retention:
          an over-approximation would drop legitimate events, an
          under-approximation resurrect newer deletes) are
          **superseded**: dropped from the merge, counted, and optionally
          written to ``quarantine_dir/batch-NNNNNN`` for audit;
        - the remainder merges through the normal exactly-once apply
          (its keys were last touched by batches < this one, so batch-id
          order and arrival order agree for them).

        Equivalence: serial replay 1..N gives each key the LWW winner of
        the highest batch touching it; the anti-join reproduces exactly
        that partition of the late batch's keys. SCD2 *history* records
        arrival order (the missed batch's versions splice in at apply
        time, marked by their own batch id); the current family matches
        serial replay row-for-row. Cross-batch ``ts`` ties inside one key
        resolve to the higher batch id, same as serial replay.

        Cost: one file-skipped created-side scan and one tag-selected
        closed-side scan of the batches since this id (O(changed), the
        q47 changelog path) + one O(batch) broadcast-or-shuffle
        anti-join, on top of the normal merge. Late repair is
        an exception path, not steady state. Same MoR-delta guard as the
        snapshot handover: pending deltas hide touched keys from
        ``changed_keys_since``, so compaction must run first.
        """
        t0 = time.monotonic()
        aligned = self._enter(events, batch_id, refuse_pending=True)
        if aligned is None:
            return _skipped(batch_id)
        key = list(self.table.key_cols)
        from tpc_di_spark.lake.changelog import changed_keys_since

        touched = changed_keys_since(self.table, batch_id)
        marked = aligned.join(
            touched.withColumn("_superseded", F.lit(True)), on=key, how="left"
        )
        marked.persist()
        try:
            stale = marked.filter(F.col("_superseded")).drop("_superseded")
            n_stale = stale.count()
            if quarantine_dir and n_stale:
                stale.write.mode("overwrite").parquet(
                    os.path.join(quarantine_dir, f"batch-{batch_id:06d}")
                )
            fresh = marked.filter(F.col("_superseded").isNull()).drop("_superseded")
            return self._apply(fresh, batch_id, _Op(
                "cdc-apply", self._merge_plan(batch_id), grouped=True,
                extra=lambda record: {
                    "late_apply": True,
                    "events_dropped_superseded": n_stale,
                    "secs": round(time.monotonic() - t0, 3),
                },
            ))
        except CommitConflict:
            # A concurrent commit landed between our changed-keys read
            # and the merge CAS: the supersession set itself is stale
            # (the new batch may outrank this one), so the WHOLE late
            # apply recomputes, not just the merge.
            if retries <= 0:
                raise
        finally:
            marked.unpersist(blocking=False)
        self.table.fs.rmtree(staging_dir(self.table.path, batch_id))
        return self.apply_late_batch(events, batch_id, quarantine_dir, retries - 1)

    def _emit_status(self, record: dict) -> None:
        if self.messages_log is None:
            return
        from tpc_di_spark.plans.messages import status_messages

        self.messages_log.append(
            status_messages(
                self.spark,
                source="CdcOrchestrator",
                text="Status: Applied batch",
                data=(
                    f"events = {record['events_in']}, "
                    f"buckets = {record['buckets_touched']}, "
                    f"snapshot = {record['snapshot_id']}"
                ),
                batch_id=record["batch_id"],
            )
        )

    def _compact_one_delta(self, events: DataFrame, orig_batch_id: int) -> dict:
        """Replay one pending MoR delta batch through the CoW merge and,
        in the SAME atomic commit, pop it from the pending-delta list.
        New row versions carry the ORIGINAL batch id, so the materialized
        lineage is identical to an all-CoW replay. Killed mid-compaction:
        nothing committed and the delta stays pending; the retry reuses
        the sealed output while the table has not moved, else recomputes
        (the killed attempt's files are unreferenced orphans, expire-
        swept)."""
        from tpc_di_spark.cdc.mor import pending_delta_batches

        def properties(_files: dict) -> dict:
            remaining = [
                b for b in pending_delta_batches(self.table)
                if b["batch_id"] != orig_batch_id
            ]
            return {**self.table.snapshot.properties, "delta_batches": remaining}

        return self._apply(events, orig_batch_id, _Op(
            "compact-delta", self._merge_plan(orig_batch_id), claims_batch=False,
            tag="compact-delta", summary={"delta_batch": orig_batch_id},
            properties=properties,
        ))

    # --------------------------------------------------------------- replay
    def replay(self, batches: Sequence[tuple[int, DataFrame]]) -> list[dict]:
        """Apply batches strictly in order (the reference's Batch2→Batch3
        sequencing, report §4.3). Already-committed batches are skipped."""
        return [self.apply_batch(df, bid) for bid, df in batches]


def bootstrap_table(
    spark: SparkSession,
    path: str,
    schema: StructType,
    num_buckets: int = 16,
    fs=None,
    properties: dict | None = None,
) -> LakeTable:
    """Create-if-absent (the reference's CREATE TABLE IF NOT EXISTS,
    `Historical/DimCustomer.py:521-563`, SURVEY S9)."""
    if LakeTable.exists(path, fs=fs):
        return LakeTable.load(spark, path, fs=fs)
    return LakeTable.create(
        spark, path, schema, num_buckets=num_buckets, fs=fs, properties=properties
    )
