"""Hot-conversation skew: bucketing on the full key must spread one
conversation's events across all buckets (no hot partition), and the
merge must stay correct under the skew."""

import pyspark.sql.functions as F

from tpc_di_spark.cdc import CdcOrchestrator, current_state
from tpc_di_spark.cdc.orchestrator import bootstrap_table
from tpc_di_spark.schemas import TRANSCRIPT_SCHEMA


def test_hot_conversation_spreads_over_buckets(spark, tmp_path):
    n = 50_000
    # 50% of events hit ONE conversation (distinct turns), rest spread.
    df = spark.range(n).select(
        F.lit("I").alias("cdc_flag"),
        F.col("id").alias("cdc_dsn"),
        F.when(F.col("id") % 2 == 0, F.lit("conv-hot"))
        .otherwise(F.format_string("conv-%04d", F.pmod(F.col("id"), 500)))
        .alias("conv_id"),
        (F.col("id") / 2).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.format_string("t-%d", F.col("id")).alias("text"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id")).alias("ts"),
    )
    table = bootstrap_table(spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, num_buckets=16)
    orch = CdcOrchestrator(table, buckets_per_group=16)
    rec = orch.apply_batch(df, 1)

    # The hot conversation's rows land in every bucket, roughly evenly.
    by_bucket = (
        table.with_bucket(table.read())
        .filter(F.col("conv_id") == "conv-hot")
        .groupBy("_bucket")
        .count()
        .collect()
    )
    counts = {r._bucket: r["count"] for r in by_bucket}
    assert len(counts) == 16, "hot conv must hash across ALL buckets (turn_idx salts conv_id)"
    assert max(counts.values()) < 2.0 * (sum(counts.values()) / 16), "no hot bucket"

    # Correctness under skew: every key present exactly once.
    assert current_state(table).count() == df.select("conv_id", "turn_idx").distinct().count()
    assert rec["buckets_touched"] == 16
