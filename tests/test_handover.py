"""Snapshot→tail handover: Debezium initial-snapshot chunks (op='r')
racing the WAL tail (SURVEY S8-family; the reference sidesteps this by
strict Batch1→Batch2 sequencing, report §4.3 — a real binlog consumer
cannot, per Debezium incremental snapshots / Netflix DBLog).

The contract under test: applying the snapshot chunks LATE (after tail
batches, via ``apply_snapshot_batch``) yields the same live state as the
reference ordering (snapshot first, tail second, via plain
``apply_batch``) — including tail deletes of keys whose chunk had not
arrived yet (the tombstone-ordered resurrection case).
"""

import datetime as dt

import pyspark.sql.functions as F
import pytest

from tests.conftest import assert_pdf_equal
from tpc_di_spark.cdc import CdcOrchestrator, current_state
from tpc_di_spark.cdc.generator import historical_batch, incremental_batch
from tpc_di_spark.cdc.orchestrator import bootstrap_table
from tpc_di_spark.schemas import TRANSCRIPT_SCHEMA

N_CONVS = 12
TURNS = 6


def snapshot_chunks(spark, n_chunks=2):
    """A point-in-time read of all keys, split into PK-range chunks the
    way connectors chunk incremental snapshots."""
    snap = historical_batch(spark, N_CONVS, TURNS)
    bound = N_CONVS // n_chunks
    return [
        snap.filter(
            (F.col("conv_id") >= f"conv-{i * bound:06d}")
            & (F.col("conv_id") < (f"conv-{(i + 1) * bound:06d}" if i < n_chunks - 1 else "conv-999999"))
        )
        for i in range(n_chunks)
    ]


def tail_batches(spark):
    """Two tail batches: generated I/U/D mix plus a crafted batch whose
    delete targets a key that (in the late-chunk ordering) has not been
    inserted yet — the no-op-delete/tombstone case."""
    gen = incremental_batch(
        spark, batch_id=2, n_events=120, n_convs=N_CONVS,
        turns_per_conv=TURNS, p_delete=0.25,
    )
    crafted = spark.createDataFrame(
        [
            ("D", 10_000, "conv-000000", 0, None, None,
             dt.datetime(2024, 1, 2, 0, 0, 0)),
            ("U", 10_001, "conv-000001", 1, "assistant", "tail rewrite",
             dt.datetime(2024, 1, 2, 0, 0, 1)),
            ("I", 10_002, "conv-000002", 99, "user", "tail insert",
             dt.datetime(2024, 1, 2, 0, 0, 2)),
        ],
        "cdc_flag string, cdc_dsn long, conv_id string, turn_idx int, "
        "role string, text string, ts timestamp",
    )
    return [gen, crafted]


def test_late_snapshot_equals_inorder_replay(spark, tmp_path):
    chunks = snapshot_chunks(spark)
    tails = tail_batches(spark)

    inorder = bootstrap_table(
        spark, str(tmp_path / "inorder"), TRANSCRIPT_SCHEMA, num_buckets=8
    )
    orch_in = CdcOrchestrator(inorder)
    for i, c in enumerate(chunks, start=1):
        orch_in.apply_batch(c, i)
    for i, t in enumerate(tails, start=len(chunks) + 1):
        orch_in.apply_batch(t, i)

    late = bootstrap_table(
        spark, str(tmp_path / "late"), TRANSCRIPT_SCHEMA, num_buckets=8
    )
    orch_late = CdcOrchestrator(late)
    for i, t in enumerate(tails, start=3):
        orch_late.apply_batch(t, i)
    for i, c in enumerate(chunks, start=11):
        rec = orch_late.apply_snapshot_batch(c, i, tail_start_batch=0)
        assert rec["rows_inserted"] + rec["rows_dropped_stale_or_present"] == rec["events_in"]

    key = ["conv_id", "turn_idx"]
    assert_pdf_equal(
        current_state(inorder).toPandas(), current_state(late).toPandas(), key
    )
    # The crafted tail rows actually exercised the three paths.
    live = current_state(late).toPandas().set_index(["conv_id", "turn_idx"])
    assert ("conv-000000", 0) not in live.index  # tombstone beat the chunk
    assert live.loc[("conv-000001", 1), "text"] == "tail rewrite"
    assert live.loc[("conv-000002", 99), "text"] == "tail insert"


def test_tombstone_orders_noop_delete_against_late_chunk(spark, tmp_path):
    """A tail D for a key with NO row yet must leave a trace that drops
    the late chunk's row — without tombstones the key resurrects."""
    table = bootstrap_table(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, num_buckets=4
    )
    orch = CdcOrchestrator(table)
    d_only = spark.createDataFrame(
        [("D", 5_000, "conv-000003", 2, None, None,
          dt.datetime(2024, 1, 2))],
        "cdc_flag string, cdc_dsn long, conv_id string, turn_idx int, "
        "role string, text string, ts timestamp",
    )
    orch.apply_batch(d_only, 5)

    from tpc_di_spark.lake.changelog import changed_keys_since, rows_closed_in

    touched = changed_keys_since(table, 0).toPandas()
    assert ("conv-000003", 2) in set(zip(touched.conv_id, touched.turn_idx))
    # Tombstones are not before-images: hidden by default, visible on ask.
    assert rows_closed_in(table, 5).count() == 0
    tombs = rows_closed_in(table, 5, include_tombstones=True).toPandas()
    assert list(tombs.batch_id) == [-5]
    assert tombs.text.isna().all()

    chunk = snapshot_chunks(spark, n_chunks=1)[0]
    rec = orch.apply_snapshot_batch(chunk, 11, tail_start_batch=0)
    live = current_state(table).toPandas()
    assert ("conv-000003", 2) not in set(zip(live.conv_id, live.turn_idx))
    assert rec["rows_inserted"] == N_CONVS * TURNS - 1


def test_snapshot_chunk_redelivery_and_overlap(spark, tmp_path):
    table = bootstrap_table(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, num_buckets=4
    )
    orch = CdcOrchestrator(table)
    chunk = snapshot_chunks(spark, n_chunks=1)[0]
    rec1 = orch.apply_snapshot_batch(chunk, 11)
    assert rec1["rows_inserted"] == N_CONVS * TURNS
    # Exactly-once: same batch id is a no-op.
    assert orch.apply_snapshot_batch(chunk, 11)["skipped"] == "already-committed"
    # Overlapping chunk under a NEW id: live keys are skipped, no dup rows.
    rec2 = orch.apply_snapshot_batch(chunk, 12)
    assert rec2["rows_inserted"] == 0
    live = current_state(table).toPandas()
    assert len(live) == N_CONVS * TURNS
    assert live.duplicated(["conv_id", "turn_idx"]).sum() == 0


def test_snapshot_batch_rejects_deletes(spark, tmp_path):
    table = bootstrap_table(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, num_buckets=4
    )
    orch = CdcOrchestrator(table)
    bad = spark.createDataFrame(
        [("D", 1, "conv-000000", 0, None, None, dt.datetime(2024, 1, 1))],
        "cdc_flag string, cdc_dsn long, conv_id string, turn_idx int, "
        "role string, text string, ts timestamp",
    )
    with pytest.raises(ValueError, match="snapshot batch contains 'D'"):
        orch.apply_snapshot_batch(bad, 11)


def test_snapshot_batch_refuses_pending_mor_deltas(spark, tmp_path):
    from tpc_di_spark.cdc.mor import apply_batch_mor, compact_deltas

    table = bootstrap_table(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, num_buckets=4
    )
    orch = CdcOrchestrator(table)
    tail = tail_batches(spark)[1]
    apply_batch_mor(orch, tail, 3)
    chunk = snapshot_chunks(spark, n_chunks=1)[0]
    with pytest.raises(ValueError, match="pending MoR delta"):
        orch.apply_snapshot_batch(chunk, 11)
    compact_deltas(orch)
    rec = orch.apply_snapshot_batch(chunk, 11)
    # The compacted tail touched 3 keys: D left a tombstone, U and I
    # upserted — all three chunk rows for those keys must be dropped
    # (the D'd and the out-of-range I'd keys are not in the chunk).
    live = current_state(table).toPandas().set_index(["conv_id", "turn_idx"])
    assert ("conv-000000", 0) not in live.index
    assert live.loc[("conv-000001", 1), "text"] == "tail rewrite"
    assert rec["rows_inserted"] == N_CONVS * TURNS - 2


def test_snapshot_chunk_killed_after_seal_honors_later_tail_delete(spark, tmp_path):
    """A chunk killed after its manifest was sealed must not be resumed
    once the tail moved on: a tail batch that deletes one of the chunk's
    keys commits in between, and the re-applied chunk recomputes its
    insert set (the sealed one was planned against the older snapshot),
    so the deleted key stays deleted."""
    table = bootstrap_table(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, num_buckets=4
    )
    orch = CdcOrchestrator(table)
    chunk = snapshot_chunks(spark, n_chunks=1)[0]
    orig = table.commit

    def killed(*a, **kw):
        raise RuntimeError("kill at commit")

    table.commit = killed
    with pytest.raises(RuntimeError, match="kill at commit"):
        orch.apply_snapshot_batch(chunk, 11)
    table.commit = orig

    delete = spark.createDataFrame(
        [("D", 20_000, "conv-000003", 2, None, None, dt.datetime(2024, 1, 2))],
        "cdc_flag string, cdc_dsn long, conv_id string, turn_idx int, "
        "role string, text string, ts timestamp",
    )
    orch.apply_batch(delete, 12)
    rec = orch.apply_snapshot_batch(chunk, 11)
    assert not rec["groups"][0].get("resumed")
    assert rec["rows_inserted"] == N_CONVS * TURNS - 1
    live = current_state(table).toPandas().set_index(["conv_id", "turn_idx"])
    assert ("conv-000003", 2) not in live.index
    assert len(live) == N_CONVS * TURNS - 1


def test_refused_batches_leave_nothing_behind(spark, tmp_path):
    """Refusals come before any side effect. A snapshot chunk and a late
    batch that carry a new column, refused for pending MoR deltas, leave
    no schema-evolution snapshot. A chunk refused for a 'D' event writes
    no file (its counts are eager, checked before the write)."""
    import os

    from tpc_di_spark.cdc.mor import apply_batch_mor, compact_deltas

    path = str(tmp_path / "t")
    table = bootstrap_table(spark, path, TRANSCRIPT_SCHEMA, num_buckets=4)
    orch = CdcOrchestrator(table)
    apply_batch_mor(orch, tail_batches(spark)[1], 3)
    before = table.refresh().snapshot.snapshot_id
    chunk = snapshot_chunks(spark, n_chunks=1)[0]
    with_tool = chunk.withColumn("tool", F.lit("search"))
    with pytest.raises(ValueError, match="pending MoR delta"):
        orch.apply_snapshot_batch(with_tool, 11)
    with pytest.raises(ValueError, match="pending MoR delta"):
        orch.apply_late_batch(with_tool, 2)
    assert table.refresh().snapshot.snapshot_id == before
    assert "tool" not in table.schema.fieldNames()

    compact_deltas(orch)

    def files():
        return {
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
        }

    on_disk, before = files(), table.refresh().snapshot.snapshot_id
    delete = spark.createDataFrame(
        [("D", 1, "conv-000005", 0, None, None, dt.datetime(2024, 1, 1))],
        "cdc_flag string, cdc_dsn long, conv_id string, turn_idx int, "
        "role string, text string, ts timestamp",
    )
    with pytest.raises(ValueError, match="snapshot batch contains 'D'"):
        orch.apply_snapshot_batch(chunk.unionByName(delete), 11)
    assert table.refresh().snapshot.snapshot_id == before
    assert files() == on_disk
