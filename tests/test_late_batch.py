"""Out-of-order tail repair: a MISSED batch redelivered after
higher-numbered batches committed (``CdcOrchestrator.apply_late_batch``).

The contract: final CURRENT state is independent of arrival order — the
late apply's supersession anti-join (keys changed by batches > the late
id drop; the rest merge normally) reproduces serial batch-id-order
replay row-for-row. The reference has no analogue (Step Functions
serializes batches, report §4.2); a real WAL consumer with a stalled
partition needs exactly this.
"""

import datetime as dt

import pyspark.sql.functions as F
import pytest

from tests.conftest import assert_pdf_equal, bucket_holding_closes
from tpc_di_spark.cdc import CdcOrchestrator, current_state
from tpc_di_spark.cdc.apply import align_events, lww_dedup, merge_batch_rows
from tpc_di_spark.cdc.generator import historical_batch, incremental_batch
from tpc_di_spark.cdc.orchestrator import bootstrap_table
from tpc_di_spark.schemas import TRANSCRIPT_SCHEMA

N_CONVS = 12
TURNS = 6
KEY = ["conv_id", "turn_idx"]

EV_DDL = (
    "cdc_flag string, cdc_dsn long, conv_id string, turn_idx int, "
    "role string, text string, ts timestamp"
)


def gen_batches(spark):
    """Batches 1..4: historical + three incremental, plus crafted rows in
    batch 3 whose keys batch 4 supersedes (update-over-late and
    tombstone-over-late)."""
    b1 = historical_batch(spark, N_CONVS, TURNS)
    b2 = incremental_batch(spark, 2, 80, N_CONVS, TURNS, p_delete=0.2)
    b3 = incremental_batch(spark, 3, 80, N_CONVS, TURNS, p_delete=0.2).union(
        spark.createDataFrame(
            [
                # batch 4 rewrites this key: late b3 must NOT clobber it
                ("U", 30_001, "conv-000001", 1, "user", "late rewrite", dt.datetime(2024, 1, 3)),
                # batch 4 deletes this NEVER-inserted key (tombstone):
                # late b3's insert must not resurrect it
                ("I", 30_002, "conv-000002", 77, "user", "late insert", dt.datetime(2024, 1, 3, 0, 0, 1)),
                # untouched by batch 4: late b3 must apply normally
                ("I", 30_003, "conv-000003", 88, "tool", "late only", dt.datetime(2024, 1, 3, 0, 0, 2)),
            ],
            EV_DDL,
        )
    )
    b4 = incremental_batch(spark, 4, 80, N_CONVS, TURNS, p_delete=0.2).union(
        spark.createDataFrame(
            [
                ("U", 40_001, "conv-000001", 1, "assistant", "newer rewrite", dt.datetime(2024, 1, 4)),
                ("D", 40_002, "conv-000002", 77, None, None, dt.datetime(2024, 1, 4, 0, 0, 1)),
            ],
            EV_DDL,
        )
    )
    return [b1, b2, b3, b4]


def test_late_batch_equals_serial_replay(spark, tmp_path):
    batches = gen_batches(spark)

    serial = bootstrap_table(spark, str(tmp_path / "serial"), TRANSCRIPT_SCHEMA, num_buckets=8)
    orch_s = CdcOrchestrator(serial)
    for i, b in enumerate(batches, start=1):
        orch_s.apply_batch(b, i)

    ooo = bootstrap_table(spark, str(tmp_path / "ooo"), TRANSCRIPT_SCHEMA, num_buckets=8)
    orch_o = CdcOrchestrator(ooo)
    orch_o.apply_batch(batches[0], 1)
    orch_o.apply_batch(batches[1], 2)
    orch_o.apply_batch(batches[3], 4)  # batch 3 goes missing
    qdir = str(tmp_path / "quarantine")
    rec = orch_o.apply_late_batch(batches[2], 3, quarantine_dir=qdir)

    assert rec["late_apply"] is True
    assert rec["events_dropped_superseded"] > 0
    assert_pdf_equal(
        current_state(serial).toPandas(), current_state(ooo).toPandas(), KEY
    )
    live = current_state(ooo).toPandas().set_index(["conv_id", "turn_idx"])
    assert live.loc[("conv-000001", 1), "text"] == "newer rewrite"
    assert ("conv-000002", 77) not in live.index  # newer tombstone held
    assert live.loc[("conv-000003", 88), "text"] == "late only"

    # Quarantined events are exactly the superseded ones, readable for audit.
    q = spark.read.parquet(f"{qdir}/batch-000003")
    assert q.count() == rec["events_dropped_superseded"]
    assert {("conv-000001", 1), ("conv-000002", 77)} <= {
        (r["conv_id"], r["turn_idx"]) for r in q.select(*KEY).collect()
    }


def test_late_batch_exactly_once_and_newest_noop(spark, tmp_path):
    batches = gen_batches(spark)
    table = bootstrap_table(spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, num_buckets=4)
    orch = CdcOrchestrator(table)
    orch.apply_batch(batches[0], 1)
    # Late apply of the NEWEST batch id degenerates to a plain apply
    # (empty supersession set).
    rec = orch.apply_late_batch(batches[1], 2)
    assert rec["events_dropped_superseded"] == 0
    # Exactly-once: a redelivery of the same late batch is a no-op.
    assert orch.apply_late_batch(batches[1], 2)["skipped"] == "already-committed"


def test_incremental_view_exact_across_late_batch(spark, tmp_path):
    """A late batch commits BELOW the view's watermark; the set-aware
    checkpoint must pick it up per-batch instead of skipping it forever
    (the silent-divergence hole a max-only watermark has)."""
    from tpc_di_spark.lake.incremental_view import IncrementalView

    batches = gen_batches(spark)
    table = bootstrap_table(spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, num_buckets=4)
    orch = CdcOrchestrator(table, buckets_per_group=4)
    view = IncrementalView(
        table,
        str(tmp_path / "v"),
        ["role"],
        [
            ("count_live", None, "live_turns"),
            ("count_versions", None, "versions_created"),
            ("count_closed", None, "versions_closed"),
        ],
    )

    def recompute():
        return {
            r.role: (r.live, r.created, r.closed)
            for r in table.read()
            .groupBy("role")
            .agg(
                F.sum(F.col("is_current").cast("long")).alias("live"),
                F.count(F.lit(1)).alias("created"),
                F.sum((~F.col("is_current")).cast("long")).alias("closed"),
            )
            .collect()
        }

    def viewed():
        return {
            r.role: (r.live_turns, r.versions_created, r.versions_closed)
            for r in view.refresh().collect()
        }

    orch.apply_batch(batches[0], 1)
    orch.apply_batch(batches[2], 3)  # batch 2 missing
    assert viewed() == recompute()
    orch.apply_late_batch(batches[1], 2)
    assert viewed() == recompute()  # late id consumed, not skipped
    import json as _json

    ck = _json.loads(table.fs.read_text(str(tmp_path / "v" / "_ckpt.json")))
    assert ck["consumed"] == [1, 2, 3]
    # Steady state afterwards: the next batch consumes contiguously.
    orch.apply_batch(batches[3], 4)
    assert viewed() == recompute()


def test_derived_sync_exact_across_late_batch(spark, tmp_path):
    from tpc_di_spark.cdc import current_state as cs
    from tpc_di_spark.lake.derived import DerivedTableSync

    batches = gen_batches(spark)
    parent = bootstrap_table(spark, str(tmp_path / "p"), TRANSCRIPT_SCHEMA, num_buckets=4)
    child = bootstrap_table(spark, str(tmp_path / "c"), TRANSCRIPT_SCHEMA, num_buckets=4)
    po = CdcOrchestrator(parent, buckets_per_group=4)
    sync = DerivedTableSync(parent, child, str(tmp_path / "s"))

    def rows(t):
        return {
            (r.conv_id, r.turn_idx, r.role, r.text)
            for r in cs(t).select("conv_id", "turn_idx", "role", "text").collect()
        }

    po.apply_batch(batches[0], 1)
    po.apply_batch(batches[2], 3)
    sync.refresh()
    po.apply_late_batch(batches[1], 2)
    rec = sync.refresh()
    assert rec["consumed_batches"] == [2]
    assert rows(child) == rows(parent)
    po.apply_batch(batches[3], 4)
    sync.refresh()
    assert rows(child) == rows(parent)


def test_late_batch_refuses_pending_mor_deltas(spark, tmp_path):
    from tpc_di_spark.cdc.mor import apply_batch_mor

    batches = gen_batches(spark)
    table = bootstrap_table(spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, num_buckets=4)
    orch = CdcOrchestrator(table)
    orch.apply_batch(batches[0], 1)
    apply_batch_mor(orch, batches[3], 4)
    with pytest.raises(ValueError, match="pending MoR delta"):
        orch.apply_late_batch(batches[2], 3)


def test_null_key_policy(spark, tmp_path):
    """NULL-business-key events: error policy fails the batch in the
    accounting job; drop policy filters + counts them; and the merge
    itself keeps them VISIBLE rather than silently vanishing (the
    presence-marker fix, checked directly on ``merge_batch_rows``)."""
    import pyspark.sql.functions as F2

    good = historical_batch(spark, 10, 4)
    bad = spark.createDataFrame(
        [
            ("I", 90_001, None, 1, "user", "null conv", dt.datetime(2024, 1, 5)),
            ("I", 90_002, "conv-000001", None, "user", "null turn", dt.datetime(2024, 1, 5)),
        ],
        EV_DDL,
    )
    mixed = good.union(bad)

    t1 = bootstrap_table(spark, str(tmp_path / "err"), TRANSCRIPT_SCHEMA, num_buckets=4)
    with pytest.raises(ValueError, match="NULL business-key"):
        CdcOrchestrator(t1).apply_batch(mixed, 1)

    t2 = bootstrap_table(spark, str(tmp_path / "drop"), TRANSCRIPT_SCHEMA, num_buckets=4)
    rec = CdcOrchestrator(t2, null_key_policy="drop").apply_batch(mixed, 1)
    assert rec["events_null_key"] == 2
    assert rec["events_in"] == 42
    live = current_state(t2)
    assert live.count() == 40  # the 2 null-key events were dropped
    assert live.filter(F2.col("conv_id").isNull() | F2.col("turn_idx").isNull()).count() == 0

    # The merge's presence markers are structural flags, not key
    # NULL-ness: NULL-key events are NOT silently lost — they come out
    # as visible current rows, where a WAP not_null audit or a
    # reconcile catches them.
    t3 = bootstrap_table(spark, str(tmp_path / "raw"), TRANSCRIPT_SCHEMA, num_buckets=4)
    empty = spark.createDataFrame([], t3.schema)
    raw = merge_batch_rows(
        empty, lww_dedup(align_events(mixed, t3), t3.key_cols), 1, t3
    ).filter(F2.col("is_current"))
    assert raw.count() == 42
    assert raw.filter(F2.col("conv_id").isNull()).count() == 1
    # a second batch against the poisoned state keeps the NULL-key row
    nxt = lww_dedup(
        align_events(incremental_batch(spark, 2, 50, 10, 4), t3), t3.key_cols
    )
    merged = merge_batch_rows(raw, nxt, 2, t3).filter(F2.col("is_current"))
    assert merged.filter(F2.col("conv_id").isNull()).count() == 1


def test_late_batch_exact_after_compaction(spark, tmp_path):
    """Compaction re-tags the history files it rewrites: over-
    approximating the supersession set would DROP legitimate events,
    trusting the tags a one-bucket compaction left in the other buckets
    would resurrect newer deletes. Both must keep the serial
    equivalence; once the committing snapshots are expired the repair
    must refuse loudly instead of silently resurrecting deletes."""
    from tpc_di_spark.lake.maintenance import compact, expire_snapshots

    batches = gen_batches(spark)

    serial = bootstrap_table(spark, str(tmp_path / "serial"), TRANSCRIPT_SCHEMA, num_buckets=4)
    orch_s = CdcOrchestrator(serial)
    for i, b in enumerate(batches, start=1):
        orch_s.apply_batch(b, i)

    for name, one_bucket in (("full", False), ("one_bucket", True)):
        ooo = bootstrap_table(spark, str(tmp_path / f"ooo_{name}"), TRANSCRIPT_SCHEMA, num_buckets=4)
        orch_o = CdcOrchestrator(ooo)
        orch_o.apply_batch(batches[0], 1)
        orch_o.apply_batch(batches[1], 2)
        orch_o.apply_batch(batches[3], 4)  # batch 3 missing
        if one_bucket:
            compact(ooo, buckets=[bucket_holding_closes(ooo, 4)])
        else:
            compact(ooo, max_files_per_bucket=0)  # re-tags every history file
        rec = orch_o.apply_late_batch(batches[2], 3)
        assert rec["late_apply"] is True
        assert_pdf_equal(
            current_state(serial).toPandas(), current_state(ooo).toPandas(), KEY
        )

    # Expired retention: the exact close set is unrecoverable -> refuse.
    ooo2 = bootstrap_table(spark, str(tmp_path / "ooo2"), TRANSCRIPT_SCHEMA, num_buckets=4)
    orch_2 = CdcOrchestrator(ooo2)
    orch_2.apply_batch(batches[0], 1)
    orch_2.apply_batch(batches[1], 2)
    orch_2.apply_batch(batches[3], 4)
    compact(ooo2, max_files_per_bucket=0)
    expire_snapshots(ooo2, keep_last=1)
    with pytest.raises(ValueError, match="unrecoverable|retention"):
        orch_2.apply_late_batch(batches[2], 3)
