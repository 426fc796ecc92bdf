"""CDC apply: LWW dedup + SCD2 expire-and-insert merge, all DataFrame ops.

Semantics re-expressed from the reference:

- **LWW fold before merge** — the reference folds multiple updates for one
  key into the final record before writing (`Historical/DimCustomer.py:
  634-657`, SURVEY A7). Here: ``max_by(struct(all_cols), struct(ts,
  cdc_dsn))`` per ``(conv_id, turn_idx)``. Mandatory: MERGE needs unique
  source keys, and it is what makes "a key updated twice in one batch"
  yield exactly one closed + one current row.
- **SCD2 expire-and-insert** — the reference's UPDATE ... SET
  IsCurrent=false, EndDate=now + INSERT new version per key
  (`Incremental1/IncrementalCustomer.py:640-712`, SURVEY M1), expressed as
  one full-outer join producing (kept ∪ closed ∪ new-current) rows,
  rewritten copy-on-write into only the touched buckets.
- **Update field retention** — 'U' events with NULL payload fields retain
  the current row's values, echoing UPDACCT "fields not present retain
  current values" (`Historical/dim_account.py:51-63`, SURVEY P7):
  ``coalesce(source.field, target.field)``.
- **Deletes** — the reference has no 'D' flag (closest analogue:
  CLOSEACCT/INACT → status INACTIVE); the north_rule adds them. 'D'
  closes the current row and inserts nothing. 'U' for an absent key
  upserts (insert), matching MERGE WHEN NOT MATCHED semantics (SURVEY M3).
- **Delete tombstones** — a 'D' whose key has NO current row still
  leaves a zero-lifetime history row marked ``batch_id = -batch``
  (payload NULL). Every delete is thereby ordered against later
  arrivals: ``changed_keys_since`` sees it (snapshot-handover and
  late-batch safety, ``CdcOrchestrator.apply_snapshot_batch`` /
  ``apply_late_batch``), while ``rows_closed_in`` excludes tombstones
  by default (they are not before-images — no version was expired).
"""

from __future__ import annotations

from typing import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from tpc_di_spark.lake.table import LakeTable
from tpc_di_spark.schemas import END_OF_TIME, KEY_COLS, SEQ_COLS

LINEAGE_COLS = ("is_current", "effective_ts", "end_ts", "batch_id")
ENVELOPE_COLS = ("cdc_flag", "cdc_dsn")


def data_cols(table: LakeTable) -> list[str]:
    """Table columns that carry payload (everything but lineage)."""
    return [f.name for f in table.schema.fields if f.name not in LINEAGE_COLS]


def lww_dedup(
    events: DataFrame,
    key_cols: Sequence[str] = KEY_COLS,
    seq_cols: Sequence[str] = SEQ_COLS,
) -> DataFrame:
    """Last-writer-wins fold: one event per key, the one with the greatest
    (ts, cdc_dsn). A single shuffle with map-side partial aggregation —
    ``max_by`` combines per-partition before exchanging, so a hot key
    costs O(partitions), not O(events). SURVEY A7.
    """
    payload = F.struct(*[F.col(c) for c in events.columns])
    order = F.struct(*[F.col(c) for c in seq_cols])
    agg = events.groupBy(*key_cols).agg(F.max_by(payload, order).alias("_e"))
    # Project key columns from the GROUPING KEYS, not from inside the
    # struct (values are identical by construction): struct-extracted
    # columns are fresh attributes Catalyst can't trace to the aggregate's
    # output partitioning, so a downstream merge join would re-Exchange
    # the deduped batch even when it is already in the bucket layout.
    cols = [
        F.col(c) if c in set(key_cols) else F.col(f"_e.{c}").alias(c)
        for c in events.columns
    ]
    return agg.select(*cols)


def align_events(events: DataFrame, table: LakeTable) -> DataFrame:
    """Project events onto envelope + the table's payload columns, adding
    NULL for payload columns the batch predates (pre-evolution events have
    no ``tool``) and rejecting unknown columns (callers evolve the schema
    first — see CdcOrchestrator.apply_batch).
    """
    wanted = list(ENVELOPE_COLS) + data_cols(table)
    have = set(events.columns)
    unknown = have - set(wanted)
    if unknown:
        raise ValueError(
            f"events carry columns {sorted(unknown)} not in the table schema; "
            "evolve the table schema before applying"
        )
    table_fields = {f.name: f for f in table.schema.fields}
    cols = []
    for c in wanted:
        if c in have:
            cols.append(F.col(c))
        else:
            cols.append(F.lit(None).cast(table_fields[c].dataType).alias(c))
    return events.select(*cols)


def merge_batch_rows(
    target: DataFrame,
    events: DataFrame,
    batch_id: int,
    table: LakeTable,
) -> DataFrame:
    """Compute the full replacement row set for the touched buckets.

    ``target`` is the bucket-pruned current table content (all versions);
    ``events`` is the LWW-deduped, schema-aligned batch slice for the same
    buckets. Returns history ∪ kept ∪ closed ∪ new-current with lineage
    columns, ready to be written copy-on-write.
    """
    key = list(table.key_cols)
    payload = [c for c in data_cols(table) if c not in key]

    # ONE scan of the target, not two: the pre-r03 shape split the table
    # into history/current filter subtrees and unioned history back in —
    # Catalyst executes that as TWO full parquet scans per batch (no
    # row-group pruning on is_current: files are clustered by bucket, so
    # every row group mixes both). Folding `t.is_current` into the join
    # condition instead makes history rows simply fail to match: the
    # full-outer join emits them unmatched, and the kept_or_closed branch
    # below already passes unmatched target rows through verbatim. Events
    # still pair with exactly the one current version of their key. Halves
    # table-read bytes per batch — the dominant shared-disk cost of the
    # CoW merge at scale.
    # Structural presence markers, NOT key-null sentinels: with
    # `t.key IS NOT NULL` as the side-present test, a NULL-business-key
    # event (garbage upstream data) reads as "source side absent" and
    # VANISHES from the merge output — the worst failure mode, silent
    # row loss. A literal flag survives the outer join as NULL exactly
    # when the side is absent, so NULL-key rows stay visible (they land
    # as insert-only rows a `not_null` WAP audit or the orchestrator's
    # null_key_policy can catch). Pure projection: no extra Exchange.
    t = target.withColumn("_t_present", F.lit(True)).alias("t")
    # SHUFFLE_HASH on the events side: a full-outer SMJ would SORT both
    # sides in every merge task (the bucketed scan is unsorted, and the
    # LWW aggregate's output is too) — two O(rows log rows) passes per
    # batch whose only purpose is feeding the join. The shuffled-hash
    # form builds a hash table over the deduped batch slice (bounded by
    # the batch, never the table) and streams the target once, sort-
    # free. Distribution requirements are identical, so the merge stays
    # Exchange-free (bucketed scan + bucket_partitioned events); the
    # hint only swaps the physical operator.
    s = events.withColumn("_s_present", F.lit(True)).hint("shuffle_hash").alias("s")
    cond = F.col("t.is_current")
    for k in key:
        cond = cond & (F.col(f"t.{k}") == F.col(f"s.{k}"))
    j = t.join(s, cond, "full_outer")

    t_present = F.col("t._t_present").isNotNull()
    s_present = F.col("s._s_present").isNotNull()

    # Row 1 per join hit: the pre-existing current row — closed if an event
    # hit its key (I/U/D all expire the old version; SURVEY M1), kept
    # verbatim otherwise.
    kept_or_closed = F.struct(
        *[F.col(f"t.{k}").alias(k) for k in key],
        *[F.col(f"t.{c}").alias(c) for c in payload],
        F.when(s_present, F.lit(False)).otherwise(F.col("t.is_current")).alias("is_current"),
        F.col("t.effective_ts").alias("effective_ts"),
        F.when(s_present, F.col("s.ts")).otherwise(F.col("t.end_ts")).alias("end_ts"),
        F.col("t.batch_id").alias("batch_id"),
    )

    # Row 2: the new current version for I/U events (D inserts nothing).
    is_update = F.col("s.cdc_flag") == F.lit("U")
    new_current = F.struct(
        *[F.col(f"s.{k}").alias(k) for k in key],
        *[
            F.when(is_update & t_present, F.coalesce(F.col(f"s.{c}"), F.col(f"t.{c}")))
            .otherwise(F.col(f"s.{c}"))
            .alias(c)
            for c in payload
        ],
        F.lit(True).alias("is_current"),
        F.col("s.ts").alias("effective_ts"),
        F.to_timestamp(F.lit(END_OF_TIME)).alias("end_ts"),
        F.lit(batch_id).cast("int").alias("batch_id"),
    )

    # Row 3: a DELETE that found no current row leaves a TOMBSTONE — a
    # zero-lifetime history row (is_current=false, effective_ts=end_ts=
    # event ts, payload NULL except the event's own ts) marked by
    # ``batch_id = -batch``. Without it a delete racing a not-yet-arrived
    # row vanishes without trace and ``changed_keys_since`` cannot order
    # a late arrival against it — exactly the CDC bootstrap-handover
    # resurrection bug (a tail delete must beat a late Debezium snapshot
    # chunk; see CdcOrchestrator.apply_snapshot_batch). Kafka compaction
    # and Iceberg equality-delete files keep such markers for the same
    # reason. The negative batch id is the exact, filterable marker:
    # genuine closed versions always keep their creating batch id (>= 1).
    tombstone = _tombstone_struct(
        [F.col(f"s.{k}") for k in key], payload, table, F.col("s.ts"), batch_id
    )

    # Emit the rows in ONE pass over the join: a multi-branch union would
    # make Spark execute the (dominant) join twice. History rows are
    # Row-1-only emissions (unmatched target side), so the output is
    # history ∪ kept ∪ closed ∪ new-current ∪ tombstones from one
    # operator tree. Explode all three slots, THEN drop the NULL ones:
    # never array_compact or filter(lambda) on the array — higher-order
    # functions have no code generation, so the Generate would fall out
    # of whole-stage codegen and the expression interpreter would build
    # every joined row's structs (tests/test_codegen_guard.py).
    merged = (
        j.select(
            F.explode(
                F.array(
                    F.when(t_present, kept_or_closed),
                    F.when(s_present & (F.col("s.cdc_flag") != F.lit("D")), new_current),
                    F.when(
                        s_present & ~t_present & (F.col("s.cdc_flag") == F.lit("D")),
                        tombstone,
                    ),
                )
            ).alias("_r")
        )
        .where(F.col("_r").isNotNull())
        .select("_r.*")
    )

    out_cols = [f.name for f in table.schema.fields]
    return merged.select(*out_cols)


def _tombstone_struct(key_cols, payload, table: LakeTable, ts_col, batch_id: int):
    """The tombstone row image shared by merge_batch_rows and
    insert_only_rows: payload NULL (except the event's own ``ts``),
    zero-lifetime lineage, ``batch_id = -batch`` marker."""
    dtypes = {f.name: f.dataType for f in table.schema.fields}
    return F.struct(
        *[kc.alias(k) for kc, k in zip(key_cols, table.key_cols)],
        *[
            (ts_col if c == "ts" else F.lit(None).cast(dtypes[c])).alias(c)
            for c in payload
        ],
        F.lit(False).alias("is_current"),
        ts_col.alias("effective_ts"),
        ts_col.alias("end_ts"),
        F.lit(-batch_id).cast("int").alias("batch_id"),
    )


def insert_only_rows(
    deduped: DataFrame, batch_id: int, table: LakeTable
) -> DataFrame:
    """Replacement row set when the target's current family is EMPTY —
    the historical-load / bootstrap case. ``merge_batch_rows`` against an
    empty target degenerates row-for-row to this projection ('D' closes
    nothing and leaves a tombstone; 'I'/'U' both insert — MERGE WHEN NOT
    MATCHED), so the join, BOTH sort passes, and the empty-side exchange
    are skipped: the bootstrap batch becomes generation -> one bucket
    exchange -> projection -> write. Stays a SINGLE conditional
    projection (no union): a D row flips to its tombstone image in
    place."""
    key = list(table.key_cols)
    payload = [c for c in data_cols(table) if c not in key]
    is_del = F.col("cdc_flag") == F.lit("D")
    dtypes = {f.name: f.dataType for f in table.schema.fields}
    rows = deduped.select(
        *key,
        *[
            (
                F.col(c)
                if c == "ts"
                else F.when(is_del, F.lit(None).cast(dtypes[c])).otherwise(F.col(c)).alias(c)
            )
            for c in payload
        ],
        (~is_del).alias("is_current"),
        F.col("ts").alias("effective_ts"),
        F.when(is_del, F.col("ts"))
        .otherwise(F.to_timestamp(F.lit(END_OF_TIME)))
        .alias("end_ts"),
        F.when(is_del, F.lit(-batch_id)).otherwise(F.lit(batch_id)).cast("int").alias("batch_id"),
    )
    return rows.select(*[f.name for f in table.schema.fields])


def current_state(table: LakeTable, snapshot=None) -> DataFrame:
    """The live view: one row per surviving (conv_id, turn_idx). Scans
    only the current file family — the is_current filter stays as a
    correctness belt (family pruning is an optimization, the filter is
    the contract).

    Time travel presents the schema AS OF the snapshot (Iceberg
    semantics): a handle whose table has since evolved must not project
    post-evolution columns over a pre-evolution snapshot's files."""
    snap = snapshot or table.snapshot
    cols = [f.name for f in snap.schema.fields if f.name not in LINEAGE_COLS]
    return table.read(snapshot=snapshot, family="current").filter(
        F.col("is_current")
    ).select(*cols)
