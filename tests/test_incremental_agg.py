"""Incremental aggregate maintenance from the changelog
(lake/incremental_agg.ConvStatsConsumer): exact vs full recompute,
delete handling, compaction fallback, crash safety, exactly-once."""

import datetime as dt

import pyspark.sql.functions as F

from tpc_di_spark.cdc import CdcOrchestrator, current_state
from tpc_di_spark.cdc.orchestrator import bootstrap_table
from tpc_di_spark.lake.incremental_agg import ConvStatsConsumer
from tpc_di_spark.schemas import TRANSCRIPT_SCHEMA

EV = "cdc_flag string, cdc_dsn long, conv_id string, turn_idx int, role string, text string, ts timestamp"
T0 = dt.datetime(2024, 1, 1)


def _batch(spark, rows):
    return spark.createDataFrame(rows, EV)


BATCHES = {
    # batch 1: conv a gets turns 0,1; conv b turn 0
    1: [
        ("I", 1, "a", 0, "user", "a0v1", T0),
        ("I", 2, "a", 1, "assistant", "a1v1", T0),
        ("I", 3, "b", 0, "user", "b0v1", T0),
    ],
    # batch 2: update (a,0); insert (c,0); delete (b,0) -> b fully dead
    2: [
        ("U", 4, "a", 0, "user", "a0v2", T0 + dt.timedelta(hours=1)),
        ("I", 5, "c", 0, "user", "c0v1", T0 + dt.timedelta(hours=1)),
        ("D", 6, "b", 0, None, None, T0 + dt.timedelta(hours=1)),
    ],
    # batch 3: delete (a,1); update (a,0) again; D on never-seen key
    3: [
        ("D", 7, "a", 1, None, None, T0 + dt.timedelta(hours=2)),
        ("U", 8, "a", 0, "user", "a0v3", T0 + dt.timedelta(hours=2)),
        ("D", 9, "zz", 5, None, None, T0 + dt.timedelta(hours=2)),
    ],
}


def _make(spark, tmp_path, name="t"):
    table = bootstrap_table(spark, str(tmp_path / name), TRANSCRIPT_SCHEMA, num_buckets=4)
    return table, CdcOrchestrator(table, buckets_per_group=4)


def _full_recompute(table):
    """Ground truth from the table's own lineage: one row per conv.
    Delete tombstones (batch_id < 0, cdc/apply.py) are neither created
    nor closed versions — any full-scan recompute must exclude them,
    mirroring the changelog reads' default."""
    lineage = table.read().filter(F.col("batch_id") >= 0)
    return {
        r.conv_id: (r.live, r.created, r.closed)
        for r in lineage.groupBy("conv_id")
        .agg(
            F.sum(F.col("is_current").cast("long")).alias("live"),
            F.count(F.lit(1)).alias("created"),
            F.sum((~F.col("is_current")).cast("long")).alias("closed"),
        )
        .collect()
    }


def _consumed(consumer):
    return {
        r.conv_id: (r.live_turns, r.versions_created, r.versions_closed)
        for r in consumer.refresh().collect()
    }


def test_incremental_equals_full_recompute(spark, tmp_path):
    table, orch = _make(spark, tmp_path)
    consumer = ConvStatsConsumer(table, str(tmp_path / "stats"))
    for b, rows in BATCHES.items():
        orch.apply_batch(_batch(spark, rows), b)
        got = _consumed(consumer)  # refresh after EVERY batch (incremental path)
        assert got == _full_recompute(table), f"diverged after batch {b}"
    # final shape: a has 1 live turn (a,0 at v3), b fully deleted, c 1 live;
    # zz never created -> absent
    assert got == {"a": (1, 4, 3), "b": (0, 1, 1), "c": (1, 1, 0)}
    # a one-shot consumer over the same table agrees (bootstrap == catch-up)
    fresh = ConvStatsConsumer(table, str(tmp_path / "stats2"))
    assert _consumed(fresh) == got
    # watermark: a's last_event_ts is batch 3's
    ts = {r.conv_id: r.last_event_ts for r in consumer.state().collect()}
    assert ts["a"] == T0 + dt.timedelta(hours=2)
    assert ts["b"] == T0, "delete does not rewind the activity watermark"


def test_exactly_once_and_noop_refresh(spark, tmp_path):
    table, orch = _make(spark, tmp_path)
    consumer = ConvStatsConsumer(table, str(tmp_path / "stats"))
    orch.apply_batch(_batch(spark, BATCHES[1]), 1)
    first = _consumed(consumer)
    assert _consumed(consumer) == first, "refresh with nothing new is a no-op"


def test_exact_across_compaction(spark, tmp_path):
    """A compaction between checkpoint and refresh erases closing tags;
    the consumer must detect it and stay exact by reading the closes
    from each batch's committing snapshot (time travel)."""
    from tpc_di_spark.lake.maintenance import compact

    table, orch = _make(spark, tmp_path)
    consumer = ConvStatsConsumer(table, str(tmp_path / "stats"))
    orch.apply_batch(_batch(spark, BATCHES[1]), 1)
    _consumed(consumer)  # checkpoint at batch 1
    orch.apply_batch(_batch(spark, BATCHES[2]), 2)
    orch.apply_batch(_batch(spark, BATCHES[3]), 3)
    compact(table, max_files_per_bucket=0)  # rewrites ALL history files
    got = _consumed(consumer)
    assert got == _full_recompute(table)
    assert got["b"] == (0, 1, 1), "the delete-only close must not be lost"


def test_crash_between_state_write_and_ckpt_flip(spark, tmp_path):
    """Crash window: state parquet written, checkpoint flip failed. The
    re-run must recompute the same delta (old ckpt -> same range)."""
    import pytest

    table, orch = _make(spark, tmp_path)
    consumer = ConvStatsConsumer(table, str(tmp_path / "stats"))
    orch.apply_batch(_batch(spark, BATCHES[1]), 1)
    _consumed(consumer)
    orch.apply_batch(_batch(spark, BATCHES[2]), 2)

    orig = consumer.fs.replace_text

    def failing(path, text):
        raise RuntimeError("crash before flip")

    consumer.fs.replace_text = failing
    with pytest.raises(RuntimeError, match="crash before flip"):
        consumer.refresh()
    consumer.fs.replace_text = orig
    # state() still serves the pre-crash checkpoint
    assert {r.conv_id for r in consumer.state().collect()} == {"a", "b"}
    got = _consumed(consumer)  # re-run consumes batch 2 exactly once
    assert got == _full_recompute(table)


def test_consumer_matches_current_state_counts(spark, tmp_path):
    """live_turns agrees with a direct count over current_state (the
    expensive full query the consumer replaces)."""
    table, orch = _make(spark, tmp_path)
    consumer = ConvStatsConsumer(table, str(tmp_path / "stats"))
    for b, rows in BATCHES.items():
        orch.apply_batch(_batch(spark, rows), b)
    got = _consumed(consumer)
    direct = {
        r.conv_id: r.n
        for r in current_state(table).groupBy("conv_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for conv, (live, _, _) in got.items():
        assert live == direct.get(conv, 0), conv


def test_mor_batches_held_until_compaction(spark, tmp_path):
    """Merge-on-read batches are committed before their rows materialize;
    the consumer must NOT advance its checkpoint past a pending delta
    batch (it would lose those rows forever once compaction stamps them
    with their original batch ids), and must catch up exactly after
    compaction."""
    from tpc_di_spark.cdc.mor import apply_batch_mor, compact_deltas

    table, orch = _make(spark, tmp_path)
    consumer = ConvStatsConsumer(table, str(tmp_path / "stats"))
    orch.apply_batch(_batch(spark, BATCHES[1]), 1)  # CoW
    apply_batch_mor(orch, _batch(spark, BATCHES[2]), 2)  # MoR delta
    apply_batch_mor(orch, _batch(spark, BATCHES[3]), 3)  # MoR delta

    got = _consumed(consumer)
    assert got == {"a": (2, 2, 0), "b": (1, 1, 0)}, (
        "only the materialized CoW batch may be consumed while deltas pend"
    )

    compact_deltas(orch)
    got = _consumed(consumer)
    assert got == _full_recompute(table)
    assert got == {"a": (1, 4, 3), "b": (0, 1, 1), "c": (1, 1, 0)}


def test_bootstrap_after_compaction(spark, tmp_path):
    """ADVICE r04 (medium): a consumer whose FIRST refresh runs against an
    already-compacted table must read the closes from the committing
    snapshots — the current snapshot's compaction-rewritten history
    files have lost their closing tags, and wrong totals would persist
    into the checkpoint forever."""
    from tpc_di_spark.lake.maintenance import compact

    table, orch = _make(spark, tmp_path)
    for b, rows in BATCHES.items():
        orch.apply_batch(_batch(spark, rows), b)
    compact(table, max_files_per_bucket=0)  # rewrites ALL history files
    consumer = ConvStatsConsumer(table, str(tmp_path / "stats"))  # no ckpt yet
    got = _consumed(consumer)
    assert got == _full_recompute(table)
    assert got["b"] == (0, 1, 1), "closes erased by compaction must still count"


def test_expired_checkpoint_snapshot_forces_fallback(spark, tmp_path):
    """When expire_snapshots pruned the snapshot that committed a pending
    batch AND a compaction followed that commit, the batch's close set
    cannot be proven: the refresh must refuse with the unrecoverable
    error instead of folding a guessed close set into its state."""
    import pytest

    from tpc_di_spark.lake.maintenance import compact, expire_snapshots

    table, orch = _make(spark, tmp_path)
    consumer = ConvStatsConsumer(table, str(tmp_path / "stats"))
    orch.apply_batch(_batch(spark, BATCHES[1]), 1)
    _consumed(consumer)  # checkpoint at batch 1
    orch.apply_batch(_batch(spark, BATCHES[2]), 2)
    compact(table, max_files_per_bucket=0)
    orch.apply_batch(_batch(spark, BATCHES[3]), 3)
    # prune everything older than the current snapshot: the checkpoint's
    # snapshot AND the compaction snapshot both leave history()
    expire_snapshots(table, keep_last=1)
    reachable = {h["snapshot_id"] for h in table.history()}
    assert consumer._load_ckpt()["snapshot_id"] not in reachable
    with pytest.raises(ValueError, match="unrecoverable"):
        consumer.refresh()
    assert consumer._load_ckpt()["batch_id"] == 1, "the checkpoint must not move"
