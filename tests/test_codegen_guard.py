"""Whole-stage codegen guards: the CoW merge, the insert-only
projection and the q12 nameplate tags must compile end to end. A
higher-order function (``array_compact``, ``filter(lambda)``) has no
code generation, so it would drop its operator, and every row through
it, into the expression interpreter."""

import datetime as dt

import pyspark.sql.functions as F

from tests.conftest import assert_compiled_plan
from tpc_di_spark.cdc import CdcOrchestrator
from tpc_di_spark.cdc.apply import align_events, insert_only_rows, lww_dedup, merge_batch_rows
from tpc_di_spark.cdc.orchestrator import bootstrap_table
from tpc_di_spark.functions.cleaning import nameplate_tags
from tpc_di_spark.schemas import TRANSCRIPT_SCHEMA

EV = "cdc_flag string, cdc_dsn long, conv_id string, turn_idx int, role string, text string, ts timestamp"
T0 = dt.datetime(2024, 1, 1)
T1 = T0 + dt.timedelta(hours=1)


def _table(spark, tmp_path):
    t = bootstrap_table(spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, num_buckets=4)
    CdcOrchestrator(t, buckets_per_group=4).apply_batch(
        spark.createDataFrame(
            [("I", 1, "a", 0, "user", "x", T0), ("I", 2, "b", 0, "user", "y", T0)], EV
        ),
        1,
    )
    return t.refresh()


def _deduped(spark, t):
    # an update, an insert, and a delete of an absent key (a tombstone)
    ev = spark.createDataFrame(
        [("U", 3, "a", 0, "user", "x2", T1), ("I", 4, "c", 0, "tool", "z", T1),
         ("D", 5, "zz", 0, None, None, T1)],
        EV,
    )
    return lww_dedup(t.bucket_partitioned(align_events(ev, t)), t.key_cols)


def test_merge_emission_compiles(spark, tmp_path):
    t = _table(spark, tmp_path)
    tgt, bucketed = t.read_bucketed(family="current")
    assert bucketed
    merged = merge_batch_rows(tgt, _deduped(spark, t), 2, t)
    assert assert_compiled_plan(merged) == 1
    rows = {(r.conv_id, r.batch_id, r.is_current) for r in merged.collect()}
    assert rows == {
        ("a", 1, False), ("a", 2, True),  # closed + new current
        ("b", 1, True),                   # kept verbatim
        ("c", 2, True),                   # inserted
        ("zz", -2, False),                # tombstone
    }


def test_insert_only_rows_compile(spark, tmp_path):
    t = _table(spark, tmp_path)
    assert_compiled_plan(insert_only_rows(_deduped(spark, t), 2, t))


def test_nameplate_tags_compile(spark):
    df = spark.createDataFrame([(5, 1), (0, 0), (9, 9)], "a int, b int")
    tagged = df.select(
        "a", nameplate_tags([(F.col("a") > 3, "HighA"), (F.col("b") > 3, "HighB")]).alias("tags")
    )
    assert_compiled_plan(tagged)
    got = {r.a: r.tags for r in tagged.collect()}
    assert got == {5: "HighA", 0: None, 9: "HighA+HighB"}
