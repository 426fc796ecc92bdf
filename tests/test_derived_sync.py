"""Changelog-driven downstream table sync (lake/derived): child equals
filter+projection of the parent's live state after every refresh, under
updates that move rows out of the filter, pure deletes, range (multi-
batch) consumption, crash retry, compaction fallback, schema-evolution
propagation, and the merge-on-read materialization horizon."""

import datetime as dt
import json
import os

import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from tests.conftest import bucket_holding_closes, refresh_jobs
from tpc_di_spark.cdc import CdcOrchestrator, current_state
from tpc_di_spark.cdc.orchestrator import bootstrap_table
from tpc_di_spark.lake.derived import DerivedTableSync
from tpc_di_spark.schemas import LINEAGE_FIELDS, TRANSCRIPT_SCHEMA

EV = "cdc_flag string, cdc_dsn long, conv_id string, turn_idx int, role string, text string, ts timestamp"
T0 = dt.datetime(2024, 1, 1)


def _h(n):
    return T0 + dt.timedelta(hours=n)


BATCHES = {
    1: [
        ("I", 1, "a", 0, "user", "hello", _h(0)),
        ("I", 2, "a", 1, "assistant", "hi there", _h(0)),
        ("I", 3, "b", 0, "assistant", "yes", _h(0)),
        ("I", 4, "b", 1, "user", "mm", _h(0)),
    ],
    # update keeps (a,1) in filter; (b,0) moves OUT of the filter
    # (assistant -> tool); insert new assistant row; delete (b,1)
    2: [
        ("U", 5, "a", 1, "assistant", "hi there again", _h(1)),
        ("U", 6, "b", 0, "tool", "{}", _h(1)),
        ("I", 7, "c", 0, "assistant", "ok", _h(1)),
        ("D", 8, "b", 1, None, None, _h(1)),
    ],
    # pure delete of (c,0); (b,0) comes BACK into the filter
    3: [
        ("D", 9, "c", 0, None, None, _h(2)),
        ("U", 10, "b", 0, "assistant", "back", _h(2)),
    ],
}

CHILD_SCHEMA = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("role", StringType(), True),
        StructField("n_chars", LongType(), True),
        StructField("ts", TimestampType(), True),
    ]
    + LINEAGE_FIELDS
)

FILTER = "role = 'assistant'"
SELECT = {"role": "role", "n_chars": "cast(length(text) as bigint)"}


def _mk(spark, tmp_path, buckets=4):
    parent = bootstrap_table(spark, str(tmp_path / "parent"), TRANSCRIPT_SCHEMA, num_buckets=buckets)
    child = bootstrap_table(spark, str(tmp_path / "child"), CHILD_SCHEMA, num_buckets=buckets)
    po = CdcOrchestrator(parent, buckets_per_group=buckets)
    sync = DerivedTableSync(
        parent, child, str(tmp_path / "sync"), filter_expr=FILTER, select_exprs=SELECT
    )
    return parent, child, po, sync


def _expected(parent):
    return (
        current_state(parent)
        .filter(F.expr(FILTER))
        .select(
            "conv_id",
            "turn_idx",
            "role",
            F.expr("cast(length(text) as bigint)").alias("n_chars"),
            "ts",
        )
    )


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _batch(spark, rows):
    return spark.createDataFrame(rows, EV)


def test_sync_tracks_filter_and_projection(spark, tmp_path):
    parent, child, po, sync = _mk(spark, tmp_path)
    for b in (1, 2, 3):
        po.apply_batch(_batch(spark, BATCHES[b]), b)
        sync.refresh()
        assert _rows(current_state(child)) == _rows(_expected(parent)), f"batch {b}"
    # batch 2 dropped (b,0) out of the filter and batch 3 brought it back
    final = {(r.conv_id, r.turn_idx): r.role for r in current_state(child).collect()}
    assert ("b", 0) in final and final[("b", 0)] == "assistant"
    assert ("c", 0) not in final  # pure delete propagated


def test_range_consumption_equals_per_batch(spark, tmp_path):
    parent, child, po, sync = _mk(spark, tmp_path)
    for b in (1, 2, 3):
        po.apply_batch(_batch(spark, BATCHES[b]), b)
    rec = sync.refresh()  # one refresh over the whole range
    assert rec["consumed_batches"] == [1, 2, 3]
    assert _rows(current_state(child)) == _rows(_expected(parent))


def test_crash_retry_is_exactly_once(spark, tmp_path):
    parent, child, po, sync = _mk(spark, tmp_path)
    po.apply_batch(_batch(spark, BATCHES[1]), 1)
    po.apply_batch(_batch(spark, BATCHES[2]), 2)
    sync.refresh()
    before = _rows(current_state(child))
    # crash between child apply and checkpoint flip: re-run the refresh
    # with the checkpoint rolled back — the child apply must no-op.
    ckpt = os.path.join(str(tmp_path / "sync"), "_ckpt.json")
    os.remove(ckpt)
    rec = sync.refresh()
    assert rec["apply"].get("skipped") == "already-committed"
    assert _rows(current_state(child)) == before
    assert json.load(open(ckpt))["batch_id"] == 2


def test_noop_when_up_to_date(spark, tmp_path):
    parent, child, po, sync = _mk(spark, tmp_path)
    po.apply_batch(_batch(spark, BATCHES[1]), 1)
    sync.refresh()
    assert sync.refresh() == {"skipped": "up-to-date", "batch_id": 1}


def test_compaction_between_syncs_uses_fallback(spark, tmp_path):
    from tpc_di_spark.lake.maintenance import compact

    parent, child, po, sync = _mk(spark, tmp_path)
    po.apply_batch(_batch(spark, BATCHES[1]), 1)
    sync.refresh()
    po.apply_batch(_batch(spark, BATCHES[2]), 2)
    po.apply_batch(_batch(spark, BATCHES[3]), 3)
    compact(parent, max_files_per_bucket=0)
    rec = sync.refresh()
    assert rec["fallback"] is True
    assert _rows(current_state(child)) == _rows(_expected(parent))


def test_partial_compaction_between_syncs_uses_fallback(spark, tmp_path):
    """A compaction of ONE bucket re-tags only that bucket's closes; the
    batch's tags left in the other buckets must not be taken for its
    whole close set, or the child keeps rows the parent deleted."""
    from tpc_di_spark.lake.maintenance import compact

    parent, child, po, sync = _mk(spark, tmp_path)
    keys = [f"k{i:02d}" for i in range(16)]
    po.apply_batch(
        _batch(spark, [("I", i, k, 0, "assistant", "x", _h(0)) for i, k in enumerate(keys)]), 1
    )
    sync.refresh()
    po.apply_batch(
        _batch(spark, [("D", 100 + i, k, 0, None, None, _h(1)) for i, k in enumerate(keys)]), 2
    )
    compact(parent, buckets=[bucket_holding_closes(parent, 2)])
    rec = sync.refresh()
    assert rec["fallback"] is True
    assert _rows(current_state(child)) == _rows(_expected(parent)) == []


def test_identity_projection_full_replica(spark, tmp_path):
    parent = bootstrap_table(spark, str(tmp_path / "p2"), TRANSCRIPT_SCHEMA, num_buckets=4)
    child = bootstrap_table(spark, str(tmp_path / "c2"), TRANSCRIPT_SCHEMA, num_buckets=4)
    po = CdcOrchestrator(parent, buckets_per_group=4)
    sync = DerivedTableSync(parent, child, str(tmp_path / "s2"))
    for b in (1, 2, 3):
        po.apply_batch(_batch(spark, BATCHES[b]), b)
    sync.refresh()
    assert _rows(current_state(child)) == _rows(current_state(parent))


def test_evolution_propagates_through_projection(spark, tmp_path):
    EV2 = EV + ", tool string"
    parent, child, po, _ = _mk(spark, tmp_path)
    sync = DerivedTableSync(
        parent,
        child,
        str(tmp_path / "sync"),
        filter_expr=FILTER,
        select_exprs={**SELECT, "tool": "tool"},
    )
    po.apply_batch(_batch(spark, BATCHES[1]), 1)
    evolved = [
        ("I", 20, "d", 0, "assistant", "call", _h(3), "search"),
        ("U", 21, "a", 1, "assistant", "hi2", _h(3), None),
    ]
    po.apply_batch(spark.createDataFrame(evolved, EV2), 2)
    sync.refresh()
    assert "tool" in child.schema.fieldNames()
    got = {
        (r.conv_id, r.turn_idx): r.tool
        for r in current_state(child).collect()
    }
    assert got[("d", 0)] == "search"
    assert got[("a", 1)] is None


def test_mor_horizon_holds_back_pending_deltas(spark, tmp_path):
    from tpc_di_spark.cdc.mor import apply_batch_mor, compact_deltas

    parent, child, po, sync = _mk(spark, tmp_path)
    po.apply_batch(_batch(spark, BATCHES[1]), 1)
    apply_batch_mor(po, _batch(spark, BATCHES[2]), 2)
    rec = sync.refresh()  # only batch 1 is below the horizon
    assert rec["consumed_batches"] == [1]
    compact_deltas(po)
    rec = sync.refresh()
    assert rec["consumed_batches"] == [2]
    assert _rows(current_state(child)) == _rows(_expected(parent))


def test_reserved_and_key_validation(spark, tmp_path):
    parent, child, po, _ = _mk(spark, tmp_path)
    for name in ("ts", "is_current", "effective_ts", "end_ts", "batch_id"):
        with pytest.raises(ValueError, match="pass through implicitly"):
            DerivedTableSync(
                parent, child, str(tmp_path / "x"), select_exprs={name: "ts"}
            )


def test_streaming_tail_with_derived_sync_consumer(spark, tmp_path):
    """The streaming tail's duck-typed consumer hook drives a
    DerivedTableSync: after the stream drains, the child replica equals
    filter+projection of the parent — and a restart on the same source
    leaves both tables and the sync checkpoint untouched."""
    from tpc_di_spark.schemas import CHANGE_EVENT_SCHEMA
    from tpc_di_spark.streaming.stream_apply import start_cdc_stream, stream_events

    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(BATCHES[1], CHANGE_EVENT_SCHEMA).coalesce(1).write.parquet(
        str(src / "f1")
    )
    spark.createDataFrame(BATCHES[2], CHANGE_EVENT_SCHEMA).coalesce(1).write.parquet(
        str(src / "f2")
    )
    parent, child, po, sync = _mk(spark, tmp_path)

    def run():
        q = start_cdc_stream(
            stream_events(spark, str(src) + "/*", max_files_per_trigger=1),
            po,
            str(tmp_path / "ckpt"),
            consumers=[sync],
        )
        q.awaitTermination(120)

    run()
    parent.refresh(), child.refresh()
    assert _rows(current_state(child)) == _rows(_expected(parent))
    ck = sync._load_ckpt()
    run()  # restart: nothing re-delivered, everything a no-op
    assert sync._load_ckpt() == ck
    assert _rows(current_state(child.refresh())) == _rows(_expected(parent))


def test_refresh_runs_one_scan_one_fold_one_apply(spark, tmp_path):
    """A refresh is range scan -> fold shuffle, fold -> child bucket
    shuffle, and the child merge+write: at most 3 Spark jobs for a
    one-batch and a two-batch range alike. A branchy derivation (separate
    scans per join/anti-join/groupBy) launches 11-12 here."""
    parent, child, po, sync = _mk(spark, tmp_path)
    po.apply_batch(_batch(spark, BATCHES[1]), 1)
    one = refresh_jobs(spark, sync, "derived-jobs-1")
    po.apply_batch(_batch(spark, BATCHES[2]), 2)
    po.apply_batch(_batch(spark, BATCHES[3]), 3)
    two = refresh_jobs(spark, sync, "derived-jobs-2")
    assert one <= 3 and two <= 3, (one, two)
    assert _rows(current_state(child)) == _rows(_expected(parent))
