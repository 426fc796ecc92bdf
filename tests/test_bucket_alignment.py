"""Bucket-aligned merge invariants (round 5): murmur3 bucket function ==
Spark HashPartitioning, Exchange-free bucketed target scans, skip-
repartition writes, legacy-layout compatibility, object-store fallback,
and the empty-target insert-only fast path."""

import datetime as dt
import re

import pyspark.sql.functions as F

from tpc_di_spark.cdc import CdcOrchestrator, current_state
from tpc_di_spark.cdc.apply import align_events, lww_dedup, merge_batch_rows
from tpc_di_spark.cdc.orchestrator import bootstrap_table
from tpc_di_spark.lake.table import LakeTable
from tpc_di_spark.schemas import TRANSCRIPT_SCHEMA

EV = "cdc_flag string, cdc_dsn long, conv_id string, turn_idx int, role string, text string, ts timestamp"
T0 = dt.datetime(2024, 1, 1)


def _events(spark, n=2000, base=0):
    return spark.range(n).select(
        F.when(F.col("id") % 17 == 0, "D")
        .when(F.col("id") % 3 == 0, "U")
        .otherwise("I")
        .alias("cdc_flag"),
        (F.col("id") + base).alias("cdc_dsn"),
        F.format_string("c%04d", F.col("id") % 500).alias("conv_id"),
        (F.col("id") % 7).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.format_string("t%d", F.col("id")).alias("text"),
        F.timestamp_seconds(F.col("id") + base + 1_700_000_000).alias("ts"),
    )


def test_bucket_expr_matches_spark_partitioning(spark, tmp_path):
    """The table's murmur3 bucket id must equal the partition id of
    repartition(num_buckets, *bucket_cols) — the invariant the whole
    Exchange-elision design rests on."""
    t = bootstrap_table(spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, num_buckets=8)
    df = _events(spark).select("conv_id", "turn_idx")
    mismatches = (
        t.bucket_partitioned(df)
        .withColumn("pid", F.spark_partition_id())
        .withColumn("bkt", t.bucket_expr())
        .filter(F.col("pid") != F.col("bkt"))
        .count()
    )
    assert mismatches == 0


def test_merge_plan_single_exchange(spark, tmp_path):
    """A TI batch's merge plan: bucketed target scan (no Exchange above
    it), exactly ONE Exchange total (the events' bucket repartition) —
    VERDICT r04 #2's done-criterion, pinned as a regression test."""
    t = bootstrap_table(spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, num_buckets=8)
    orch = CdcOrchestrator(t, buckets_per_group=8)
    orch.apply_batch(_events(spark), 1)
    t.refresh()
    deduped = lww_dedup(
        t.bucket_partitioned(align_events(_events(spark, base=5000), t)), t.key_cols
    )
    tgt, bucketed = t.read_bucketed(family="current")
    assert bucketed
    plan = merge_batch_rows(tgt, deduped, 2, t)._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan
    assert len(re.findall(r"\bExchange\b", plan)) == 1
    # and the physical join output really is bucket-co-located
    spread = (
        merge_batch_rows(tgt, deduped, 2, t)
        .withColumn("pid", F.spark_partition_id())
        .withColumn("bkt", t.bucket_expr())
        .groupBy("bkt")
        .agg(F.countDistinct("pid").alias("npid"))
        .filter(F.col("npid") > 1)
        .count()
    )
    assert spread == 0


def test_files_per_bucket_stay_bounded(spark, tmp_path):
    """assume_bucket_partitioned must not explode file counts: after a
    replay every bucket holds one current file and O(batches) history
    files."""
    t = bootstrap_table(spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, num_buckets=8)
    orch = CdcOrchestrator(t, buckets_per_group=8)
    for b in (1, 2, 3):
        orch.apply_batch(_events(spark, base=b * 10000), b)
    snap = t.refresh().snapshot
    assert max(len(fl) for fl in snap.files.values()) == 1
    assert max(len(fl) for fl in snap.hist_files.values()) <= 3


def test_legacy_xxhash_layout_still_reads(spark, tmp_path):
    """A table whose snapshot lacks bucket.hash (pre-round-5 layout) must
    keep using xxhash64 for reads AND writes, and read_bucketed must
    refuse the catalog path (Spark would mis-assign its buckets)."""
    # a pre-round-5 table: created under the xxhash64 layout (create()'s
    # setdefault honors an explicit legacy value)
    t = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, num_buckets=8,
        properties={"bucket.hash": "xxhash64"},
    )
    assert not t.spark_aligned
    orch = CdcOrchestrator(t, buckets_per_group=8)
    orch.apply_batch(_events(spark), 1)
    _df, bucketed = t.read_bucketed(family="current")
    assert not bucketed
    # correctness end-to-end on the legacy layout
    orch.apply_batch(_events(spark, base=5000), 2)
    assert current_state(t).count() > 0
    # every file's rows hash (xxhash64) into their recorded bucket
    snap = t.refresh().snapshot
    import os

    for b, fl in list(snap.files.items())[:3]:
        df = spark.read.schema(snap.schema).parquet(
            *[os.path.join(t.path, rel) for rel in fl]
        )
        bad = df.filter(
            F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(8)).cast("int") != int(b)
        ).count()
        assert bad == 0


def test_object_store_fallback(spark, tmp_path):
    """ObjectStoreFS has no link primitive: read_bucketed must fall back
    to the plain read and the replay must stay correct."""
    from tpc_di_spark.lake.fs import ObjectStoreFS

    t = bootstrap_table(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, num_buckets=8, fs=ObjectStoreFS()
    )
    orch = CdcOrchestrator(t, buckets_per_group=8)
    orch.apply_batch(_events(spark), 1)
    _df, bucketed = t.read_bucketed(family="current")
    assert not bucketed
    orch.apply_batch(_events(spark, base=5000), 2)

    ref = bootstrap_table(spark, str(tmp_path / "ref"), TRANSCRIPT_SCHEMA, num_buckets=8)
    ro = CdcOrchestrator(ref, buckets_per_group=8)
    ro.apply_batch(_events(spark), 1)
    ro.apply_batch(_events(spark, base=5000), 2)
    got = {tuple(r) for r in current_state(t).collect()}
    want = {tuple(r) for r in current_state(ref).collect()}
    assert got == want


def test_insert_only_bootstrap_equals_merge_path(spark, tmp_path):
    """The empty-target insert-only projection must produce exactly what
    the full-outer merge produced for a bootstrap batch (D winners as
    zero-lifetime tombstones, LWW winners only, same lineage columns)."""
    ev = _events(spark, n=3000)
    t = bootstrap_table(spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, num_buckets=8)
    CdcOrchestrator(t, buckets_per_group=8).apply_batch(ev, 1)

    deduped = lww_dedup(align_events(ev, t), t.key_cols)
    # reference: the merge form against an explicitly empty target
    empty = spark.createDataFrame([], t.schema)
    want = {tuple(r) for r in merge_batch_rows(empty, deduped, 1, t).collect()}
    got = {tuple(r) for r in t.read().collect()}
    assert got == want
    # D winners became tombstones (batch_id = -1, never current); every
    # non-tombstone bootstrap row is current.
    for r in got:
        is_current, batch_id = r[-4], r[-1]
        assert is_current == (batch_id == 1)
        assert batch_id in (1, -1)
    assert any(r[-1] == -1 for r in got)  # the generator's D share exists


def test_rebucket_upgrades_legacy_layout(spark, tmp_path):
    """rebucket rewrites every row anyway, so it doubles as the legacy
    xxhash64 -> murmur3 upgrade: afterwards the table is spark_aligned,
    the bucketed-scan path applies, and the data is unchanged. Writing
    any other hash there would desync layout from the bucket.hash
    property the catalog scan trusts (wrong joins, not just slow ones)."""
    from tpc_di_spark.lake.maintenance import rebucket

    t = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, num_buckets=8,
        properties={"bucket.hash": "xxhash64"},
    )
    orch = CdcOrchestrator(t, buckets_per_group=8)
    orch.apply_batch(_events(spark), 1)
    before = {tuple(r) for r in current_state(t).collect()}

    # same bucket count: still rewrites, because the layout upgrade alone
    # is worth O(table) once
    stats = rebucket(t, 8)
    assert stats["rebucketed"] and t.spark_aligned
    _df, bucketed = t.read_bucketed(family="current")
    assert bucketed
    assert {tuple(r) for r in current_state(t).collect()} == before

    # and the next CDC batch takes the Exchange-free merge path
    orch.apply_batch(_events(spark, base=5000), 2)
    snap = t.refresh().snapshot
    import os

    for b, fl in list(snap.files.items())[:3]:
        df = spark.read.schema(snap.schema).parquet(
            *[os.path.join(t.path, rel) for rel in fl]
        )
        bad = df.filter(
            F.pmod(F.hash("conv_id", "turn_idx"), F.lit(8)).cast("int") != int(b)
        ).count()
        assert bad == 0
