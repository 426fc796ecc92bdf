"""Merge-on-read (MoR) delta path: high-rate CDC ingest without rewriting
the table per batch.

Copy-on-write MERGE costs O(touched buckets) per batch — ideal when
batches localize, but a batch spraying updates across all conversations
rewrites the whole table. The MoR path makes per-batch cost O(batch):

- ``apply_batch_mor``: LWW-dedup the batch and APPEND it as bucket-
  partitioned *delta files* through the orchestrator's one apply core
  (one commit, exactly-once by batch id; the snapshot records the
  pending delta batches in order).
- ``current_state_mor``: the live view reconciled at read time — base
  current rows are treated as pseudo-'I' events and folded together with
  all pending deltas per key, in (batch_id, ts, cdc_dsn) order, through a
  declarative CDC state machine (``array_sort`` + ``aggregate`` — pure
  JVM Column expressions, no UDFs). Honors inserts, LWW updates with
  NULL-field retention chains, deletes, and delete-then-reinsert.
- ``compact_deltas``: folds pending deltas into the base by replaying
  them *batch by batch* through the exact CoW merge — so the materialized
  SCD2 lineage is identical to having applied every batch CoW from the
  start (deferred, not approximated).

This mirrors the Iceberg/Hudi MoR + compaction design, rebuilt on the
LakeTable snapshot log.
"""

from __future__ import annotations

import os
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from tpc_di_spark.cdc.apply import data_cols
from tpc_di_spark.cdc.orchestrator import CdcOrchestrator, _Op
from tpc_di_spark.lake.table import LakeTable


def pending_delta_batches(table: LakeTable) -> list[dict]:
    return list(table.snapshot.properties.get("delta_batches", []))


def apply_batch_mor(orch: CdcOrchestrator, events: DataFrame, batch_id: int) -> dict:
    """Append one CDC batch as delta files. O(batch) work: the one apply
    core (``CdcOrchestrator._apply``: entry guard, input accounting under
    ``null_key_policy``, LWW dedup on the bucket-layout exchange, the one
    data-file writer, seal, commit, metrics record) with the deduped
    events as its rows and their files recorded in the ``delta_batches``
    property, so plain ``read()`` keeps returning materialized SCD2 rows
    only. One atomic commit records both the batch id (exactly-once) and
    the delta list.

    Delta rows never read the table, so the sealed manifest's basis names
    this call rather than a snapshot: on a ``CommitConflict`` the core's
    retry recomputes only the property against the refreshed snapshot
    (the competing writer may have added deltas or compacted some away)
    and re-commits the sealed files — no rewrite. A duelling driver of
    the same batch id seals its own basis, so neither adopts the other's
    files; the loser's resolve to the exactly-once skip and stay
    unreferenced until ``expire_snapshots`` sweeps them."""
    table = orch.table

    def properties(files: dict) -> dict:
        return {
            **table.snapshot.properties,
            "delta_batches": pending_delta_batches(table)
            + [{"batch_id": batch_id, "files": files}],
        }

    op = _Op(
        "cdc-apply-mor",
        # The LWW-deduped batch, already in the bucket layout.
        lambda src, _buckets: (src, table.spark_aligned),
        mode="delta",
        tag="delta",
        basis=["cdc-apply-mor", uuid.uuid4().hex],
        summary={"delta_batch": batch_id},
        properties=properties,
    )
    return orch._retrying(events, batch_id, op, retries=2)


def _delta_schema(table: LakeTable):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    payload_fields = [f for f in table.schema.fields if f.name in data_cols(table)]
    return StructType(
        [StructField("cdc_flag", StringType()), StructField("cdc_dsn", LongType())]
        + payload_fields
    )


def read_deltas(table: LakeTable, buckets=None) -> DataFrame:
    """All pending delta events, with their batch_id. Old delta files
    null-fill columns added by later schema evolution (a 'U' that never
    mentioned the column correctly retains the prior value)."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    batches = pending_delta_batches(table)
    schema = _delta_schema(table)
    out = None
    for b in batches:
        files = b["files"]
        wanted = set(files) if buckets is None else {str(x) for x in buckets} & set(files)
        paths = [os.path.join(table.path, rel) for k in sorted(wanted) for rel in files[k]]
        if not paths:
            continue
        df = table.read_files(paths, schema=schema).withColumn(
            "_delta_batch", F.lit(b["batch_id"]).cast("int")
        )
        out = df if out is None else out.unionByName(df)
    if out is None:
        empty = StructType(schema.fields + [StructField("_delta_batch", IntegerType())])
        return table.spark.createDataFrame([], empty)
    return out


def current_state_mor(table: LakeTable, buckets=None) -> DataFrame:
    """Live view under pending deltas: fold (base current rows ∪ deltas)
    per key through the CDC state machine, ordered by
    (_delta_batch, ts, cdc_dsn). Entirely Column expressions.
    ``buckets`` prunes BOTH the base scan and the delta files — the
    point-lookup path (:func:`lookup_mor`) folds only the probed
    buckets' rows."""
    key = list(table.key_cols)
    payload = [c for c in data_cols(table) if c not in key]

    base = (
        table.read(family="current", buckets=buckets)
        .filter(F.col("is_current"))
        .select(
            F.lit("I").alias("cdc_flag"),
            F.lit(-1).cast("long").alias("cdc_dsn"),
            *key,
            *payload,
            # Base rows sort before every pending delta batch: they were
            # materialized by batches the orchestrator applied earlier.
            F.lit(-1).cast("int").alias("_delta_batch"),
        )
    )
    deltas = read_deltas(table, buckets=buckets).select(
        "cdc_flag", "cdc_dsn", *key, *payload, "_delta_batch"
    )
    all_events = base.unionByName(deltas)

    ev_struct = F.struct(
        F.col("_delta_batch").alias("o1"),
        F.col("ts").alias("o2"),
        F.col("cdc_dsn").alias("o3"),
        F.col("cdc_flag").alias("flag"),
        *[F.col(c).alias(c) for c in payload],
    )
    grouped = all_events.groupBy(*key).agg(
        F.array_sort(F.collect_list(ev_struct)).alias("evs")
    )

    # Fold: acc = struct(exists, <payload>). 'I' replaces; 'U' coalesces
    # field-wise against the previous version when one exists (UPDACCT
    # retention); 'D' clears. array_sort ordered by (batch, ts, dsn) makes
    # the fold the exact sequential replay.
    init = F.struct(
        F.lit(False).alias("exists"),
        *[F.lit(None).cast(dict(all_events.dtypes)[c]).alias(c) for c in payload],
    )

    def step(acc, e):
        upsert_vals = [
            F.when(
                (e["flag"] == "U") & acc["exists"], F.coalesce(e[c], acc[c])
            ).otherwise(e[c]).alias(c)
            for c in payload
        ]
        applied = F.struct(F.lit(True).alias("exists"), *upsert_vals)
        cleared = F.struct(
            F.lit(False).alias("exists"),
            *[F.lit(None).cast(dict(all_events.dtypes)[c]).alias(c) for c in payload],
        )
        return F.when(e["flag"] == "D", cleared).otherwise(applied)

    folded = grouped.select(
        *key, F.aggregate(F.col("evs"), init, step).alias("st")
    )
    return folded.filter(F.col("st.exists")).select(
        *key, *[F.col(f"st.{c}").alias(c) for c in payload]
    )


def lookup_mor(table: LakeTable, keys) -> DataFrame:
    """Bucket-pruned POINT LOOKUP on a merge-on-read table: the live
    value of each business key WITH pending deltas folded in — the
    serving read for the high-rate tail-ingest mode, where
    ``LakeTable.lookup`` (base only) would be stale. Scans only the
    probed buckets' base + delta files, folds just those rows; same key
    validation/pruning plan as the base lookup (``_keys_plan``)."""
    if isinstance(keys, dict):
        keys = [keys]
    if not keys:
        return current_state_mor(table, buckets=[])
    buckets, filt = table._keys_plan(keys, table.snapshot)
    return filt(current_state_mor(table, buckets=buckets))


def compact_deltas(orch: CdcOrchestrator) -> list[dict]:
    """Materialize pending deltas into base SCD2 rows by replaying each
    delta batch through the CoW merge, in order. The resulting lineage is
    byte-identical to an all-CoW replay. Each replayed batch commits
    atomically and removes itself from the pending list, so a killed
    compaction resumes where it stopped."""
    table = orch.table
    results = []
    while True:
        table.refresh()
        pending = pending_delta_batches(table)
        if not pending:
            break
        b = pending[0]
        paths = [
            os.path.join(table.path, rel)
            for k in sorted(b["files"])
            for rel in b["files"][k]
        ]
        events = table.read_files(paths, schema=_delta_schema(table))
        # Replay through the CoW path under a compaction id; the original
        # batch_id is already committed (by the delta append).
        rec = orch._compact_one_delta(events, b["batch_id"])
        results.append(rec)
    return results
