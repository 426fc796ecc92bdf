"""Changelog-driven downstream table sync — a derived :class:`LakeTable`
kept row-level equal to ``π(σ(parent live state))`` by consuming the
parent's incremental changelog, the "binlog out → downstream lake sink"
fan-out a CDC platform user builds the week after their first ingest
(filtered replicas, per-tenant extracts, PII-stripped mirrors).

The reference has nothing downstream of its warehouse tables — its
incremental batches are inputs only (``Incremental1/*.py``); the closest
published analogues are Debezium's outbox routing and Delta/Iceberg CDF
consumers feeding derived tables. Re-expressed here over the LakeTable
changelog:

Per refresh, for the unconsumed committed batch range ``(last, upto]``:

1. **Scan.** The range's created versions (one surviving version per key
   per batch, by the LWW merge) unioned with its closed versions
   (``keys, ts, batch_id``), each row tagged created or closed.
2. **Fold.** One ``groupBy(key)`` computes the key's CURRENT version at
   ``upto`` — its max-``batch_id`` created version — the exact set of
   batch ids of its closed versions, and its max closed ``ts``. A closed
   row carries its creation ``batch_id``, so the current version is LIVE
   iff its ``batch_id`` is not in that set. Keys with closes but no
   creates in the range are pure deletes.
3. **Projection.** One event per key: ``'I'`` (full replace — a
   projected column that went NULL in the parent must go NULL in the
   child, so no 'U' field-coalescing) for a live version passing the
   filter; ``'D'`` for dead keys, pure deletes, and live versions the
   filter now rejects (a version update can move a row out of the
   replica's predicate).
4. One ``CdcOrchestrator.apply_batch(child, batch_id=upto)`` — the
   orchestrator's per-batch manifest makes the apply exactly-once, so a
   crash between apply and checkpoint replays the same event set into a
   no-op, and the checkpoint flips after. Batch ids inherit the parent's
   ``upto`` (strictly monotone across refreshes).

Everything is DataFrame ops — a refresh costs one file-skipped scan of
the pending batches' changelog, one fold shuffle and one key-partitioned
child apply. The scan and the fold are O(changed rows); the child apply
is a copy-on-write merge that rewrites the current family of every child
bucket its events touch, and a batch of a few hundred keys touches every
one of 8 buckets. So a refresh also pays O(the child's live set), not
only O(changed rows). The range, checkpoint and
guards are the shared consumer contract
(:class:`~tpc_di_spark.lake.changelog.ChangelogConsumer`, README
"Downstream fan-out").

Schema evolution propagates: when a projected parent column first
appears (e.g. ``tool``), the child orchestrator's evolve step adds it to
the child schema before the merge — no operator intervention.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from tpc_di_spark.cdc.apply import LINEAGE_COLS
from tpc_di_spark.cdc.orchestrator import CdcOrchestrator
from tpc_di_spark.lake.changelog import ChangelogConsumer
from tpc_di_spark.lake.table import LakeTable


class DerivedTableSync(ChangelogConsumer):
    """Maintain ``child = π(σ(parent))`` from the parent's changelog.

    ``filter_expr`` is a SQL predicate over the parent's payload columns
    (NULL/false drops the row — SQL WHERE semantics); ``select_exprs``
    maps child column name → SQL expression over parent payload columns
    (key columns and ``ts`` pass through implicitly and must not be
    remapped). The child table must be keyed by the parent's key
    columns — this is a row-level sync, not a re-keying.

    Example (assistant-turns replica with a derived length column)::

        sync = DerivedTableSync(
            parent, child_table, state_dir,
            filter_expr="role = 'assistant'",
            select_exprs={"role": "role", "n_chars": "length(text)"},
        )
        sync.refresh()   # after each parent batch (or batches)
    """

    def __init__(
        self,
        parent: LakeTable,
        child: LakeTable,
        state_dir: str,
        filter_expr: str | None = None,
        select_exprs: dict[str, str] | None = None,
    ) -> None:
        if list(child.key_cols) != list(parent.key_cols):
            raise ValueError(
                f"child key {child.key_cols} must equal parent key "
                f"{parent.key_cols} (row-level sync, no re-keying)"
            )
        super().__init__(parent, state_dir)
        self.parent = parent
        self.child = child
        self.filter_expr = filter_expr
        self.select_exprs = dict(select_exprs or {})
        reserved = set(parent.key_cols) | {"ts", "cdc_flag", "cdc_dsn", *LINEAGE_COLS}
        bad = reserved & set(self.select_exprs)
        if bad:
            raise ValueError(f"{sorted(bad)} pass through implicitly; do not remap")
        # The child orchestrator runs the SINGLE-GROUP fast path: a
        # refresh consumes a whole committed batch range whose keys are
        # hash-spread over every bucket, so bucket-pruned grouping buys
        # nothing while its touched-bucket discovery job re-computes the
        # changelog-derivation DAG once more. Single-group applies the
        # child batch in exactly ONE pass (derive -> dedup shuffle ->
        # merge -> write).
        self.orch = CdcOrchestrator(child, buckets_per_group=child.num_buckets)

    def _payload_cols(self, snap) -> list[str]:
        return [f.name for f in snap.schema.fields if f.name not in LINEAGE_COLS]

    def _after_apply(self, out: dict, events: DataFrame, ck: dict | None) -> dict:
        """Hook between the child apply and the checkpoint flip: may add
        fields to the refresh record ``out`` and returns extra checkpoint
        fields that ride the same atomic flip (IvfIndexSync's drift
        counter). The base sync needs nothing here."""
        return {}

    def _events(self, fold: DataFrame, payload: list[str], upto: int) -> DataFrame:
        """Map the folded range — one row per key: its current version's
        payload and ``batch_id`` (NULL for a pure delete), ``ts``, and
        ``_up`` (live and passing the filter) — to child events: 'I' with
        the version's batch id where ``_up``, else 'D' at ``upto``. Base:
        the declarative select_exprs projection; subclasses override for
        projections a SQL expression cannot express (e.g. IvfIndexSync's
        broadcast-centroid assignment)."""
        keys = list(self.parent.key_cols)
        proj = {n: F.expr(e) for n, e in self.select_exprs.items()} or {
            c: F.col(c) for c in payload if c not in keys and c != "ts"
        }  # empty select_exprs: identity projection
        up = F.col("_up")
        return fold.select(
            F.when(up, "I").otherwise("D").alias("cdc_flag"),
            F.when(up, F.col("batch_id")).otherwise(upto).cast("long").alias("cdc_dsn"),
            *keys,
            *[F.when(up, e).alias(n) for n, e in proj.items()],
            F.col("ts"),
        )

    def refresh(self) -> dict:
        """Catch the child up through every committed parent batch below
        the merge-on-read materialization horizon; returns a metrics
        record. No-op when nothing new is committed."""
        rng = self._plan()
        if not rng.pending:
            return {"skipped": "up-to-date", "batch_id": rng.last}
        upto = rng.upto
        # Late-repair ids below the watermark (apply_late_batch) make the
        # pending set non-contiguous; the changelog reads name exactly its
        # ids. Key safety: a late parent batch only creates/closes rows
        # for keys NO higher batch touched (its supersession rule), so the
        # child events from a late refresh never collide with child rows
        # written by higher-numbered refreshes — the normal child apply
        # is exact.
        keys = list(self.parent.key_cols)
        payload = self._payload_cols(rng.snap)
        is_c = F.col("_created")
        # One scan (a shuffle-free union), one fold shuffle, one select.
        fold = (
            rng.created()
            .select(*payload, "batch_id", F.lit(True).alias("_created"))
            .unionByName(
                rng.closed().select(*keys, "ts", "batch_id", F.lit(False).alias("_created")),
                allowMissingColumns=True,
            )
            .groupBy(*keys)
            .agg(
                F.max_by(
                    F.struct(*[c for c in payload if c not in keys], "batch_id"),
                    F.when(is_c, F.col("batch_id")),
                ).alias("_v"),
                F.collect_set(F.when(~is_c, F.col("batch_id"))).alias("_closed"),
                F.max(F.when(~is_c, F.col("ts"))).alias("_closed_ts"),
            )
            .select(*keys, "_v.*", "_closed", "_closed_ts")
        )
        # Live iff the current version was not itself closed in range
        # (its close would be a pure delete — a replacement would have
        # created a higher-batch version); NULL/false filter drops it.
        has_v = F.col("batch_id").isNotNull()
        live = has_v & ~F.array_contains("_closed", F.col("batch_id"))
        if self.filter_expr is not None:
            live = live & F.expr(self.filter_expr)
        fold = fold.withColumns({
            "_up": F.coalesce(live, F.lit(False)),
            "ts": F.when(has_v, F.col("ts")).otherwise(F.col("_closed_ts")),
        })
        events = self._events(fold, payload, upto)

        # Exactly-once: the child apply is idempotent per batch_id (the
        # orchestrator skips already-committed batches), so a crash here
        # re-derives the same events and no-ops; the checkpoint flips
        # only after the apply committed.
        out = {
            "batch_id": upto,
            "consumed_batches": list(rng.pending),
            "fallback": rng.fallback,
            "apply": self.orch.apply_batch(events, batch_id=upto),
        }
        extras = self._after_apply(out, events, rng.ck)
        self._save_ckpt(rng.checkpoint(**extras), first=rng.ck is None)
        return out
