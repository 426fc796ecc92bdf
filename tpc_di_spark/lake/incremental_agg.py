"""Incremental aggregate maintenance from the changelog — a real
"binlog out" CONSUMER: a per-conversation stats table kept current by
reading only what changed, never replaying or rescanning the fact table.

This is the canonical downstream shape for a lake-resident CDC engine
(feature tables, index builders, rollup marts): TPC-DI itself has no
changelog consumer (its incremental batches are inputs only —
`Incremental1/*.py` read Batch2 extracts); this completes the engine's
changelog (`lake/changelog.py`) with the thing the changelog exists FOR.

``ConvStatsConsumer`` is the original fixed-spec consumer (the q49
contract surface); since round 5 it is a thin instantiation of the
DECLARATIVE engine in :mod:`tpc_di_spark.lake.incremental_view`, which
generalizes the same changelog-range + state fold to arbitrary key
columns and aggregate specs.

Maintained stats per ``conv_id``:

- ``live_turns``       — count of currently-live ``(conv_id, turn_idx)``
  rows. Exact under inserts/updates/deletes WITHOUT key-level state:
  every version the engine materializes is created exactly once and
  closed at most once, so per conversation
  ``live = Σ created − Σ closed`` (insert +1/−0, update +1/−1,
  delete +0/−1).
- ``versions_created`` / ``versions_closed`` — monotone lineage
  counters (the per-batch version churn).
- ``last_event_ts``    — max event ts over created versions: a monotone
  "latest activity" watermark (a delete does not rewind it).

Scale shape: one refresh costs one file-skipped scan of the pending
batches' created/closed versions (``rows_created_in`` /
``rows_closed_in`` — per-file ``batch_id`` stats and closing-commit
path tags bound the scan set to the touched batches) unioned with the
conv-cardinality state and folded by one ``groupBy(conv_id)`` —
O(changed + state), independent of table age or lineage depth.

Checkpointing, crash safety, the rollback guard, the merge-on-read
horizon and the exact close sets are the shared consumer contract
(:class:`~tpc_di_spark.lake.changelog.ChangelogConsumer`, README
"Downstream fan-out").
"""

from __future__ import annotations

from pyspark.sql.types import LongType, StringType, StructField, StructType, TimestampType

from tpc_di_spark.lake.incremental_view import IncrementalView
from tpc_di_spark.lake.table import LakeTable

STATE_SCHEMA = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("live_turns", LongType(), False),
        StructField("versions_created", LongType(), False),
        StructField("versions_closed", LongType(), False),
        StructField("last_event_ts", TimestampType(), True),
    ]
)


class ConvStatsConsumer(IncrementalView):
    """Incrementally-maintained per-conversation stats over a transcript
    ``LakeTable`` (see module docstring for semantics and guarantees)."""

    def __init__(self, table: LakeTable, state_dir: str) -> None:
        super().__init__(
            table,
            state_dir,
            key_cols=["conv_id"],
            aggs=[
                ("count_live", None, "live_turns"),
                ("count_versions", None, "versions_created"),
                ("count_closed", None, "versions_closed"),
                ("max_created", "ts", "last_event_ts"),
            ],
        )
