"""Correctness checks, run outside the timed operations.

Expected results are recomputed independently of the engine's code:

- the live table state from the landed change events, by the rules of
  ``cdc/oracle.py``: per key the last writer on ``(ts, cdc_dsn)`` within
  a batch, the later batch wins, ``D`` removes the key, ``U`` keeps the
  prior value of every field it leaves NULL, ``I`` replaces the row;
- the consumers' contents from the engine's live state.

Large frames are compared by row count and an order-insensitive hash
(the sum of one 64-bit hash per row), computed by Spark, so a check
costs two aggregate jobs and collects two numbers.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import Window

KEY = ["conv_id", "turn_idx"]
PAYLOAD = ["role", "text", "tool", "ts"]
STATE_COLS = KEY + PAYLOAD


def with_tool(df):
    return df if "tool" in df.columns else df.withColumn("tool", F.lit(None).cast("string"))


def digest(df, cols=STATE_COLS) -> tuple[int, int]:
    """(row count, sum of per-row xxhash64 values) of ``df[cols]``."""
    row = df.select(*cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return row["n"], int(row["h"] or 0)


TYPES = {"role": "string", "text": "string", "tool": "string", "ts": "timestamp"}


def _state(live: bool, values: dict):
    return F.struct(F.lit(live).alias("live"), *[v.alias(c) for c, v in values.items()])


def recompute_state(batches: list):
    """The live state after applying ``batches`` (event DataFrames, in
    apply order): per-batch last writer, then a per-key fold over the
    batches' winners in batch order."""
    by_key = Window.partitionBy(*KEY).orderBy(F.col("ts").desc(), F.col("cdc_dsn").desc())
    winners = None
    for order, ev in enumerate(batches):
        last = (
            with_tool(ev)
            .withColumn("_rank", F.row_number().over(by_key))
            .filter("_rank = 1")
            .select(F.lit(order).alias("_o"), "cdc_flag", *KEY, *PAYLOAD)
        )
        winners = last if winners is None else winners.unionByName(last)
    nulls = {c: F.lit(None).cast(t) for c, t in TYPES.items()}

    def step(acc, e):
        keep = (e["cdc_flag"] == "U") & acc["live"]
        updated = {c: F.when(keep, F.coalesce(e[c], acc[c])).otherwise(e[c]) for c in PAYLOAD}
        return F.when(e["cdc_flag"] == "D", _state(False, nulls)).otherwise(_state(True, updated))

    evs = F.array_sort(F.collect_list(F.struct("_o", "cdc_flag", *PAYLOAD)))
    folded = winners.groupBy(*KEY).agg(F.aggregate(evs, _state(False, nulls), step).alias("s"))
    return folded.filter("s.live").select(*KEY, *[F.col(f"s.{c}").alias(c) for c in PAYLOAD])


def same_state(got, want) -> bool:
    """Equal live states, every key compared."""
    return digest(with_tool(got)) == digest(with_tool(want))


# ------------------------------------------------------------- consumers
def expected_view(live):
    """count_live / avg_live(length(text)) / max_live(ts) per role."""
    return live.groupBy("role").agg(
        F.count(F.lit(1)).alias("n_live"),
        F.avg(F.length("text").cast("bigint")).alias("avg_len"),
        F.max("ts").alias("max_ts"),
    )


def same_view(got, want) -> bool:
    """Equal per-role rows; averages compared to 1e-9 relative."""
    def rows(df):
        return sorted(
            (r["role"] or "", r["n_live"], r["avg_len"], r["max_ts"])
            for r in df.select("role", "n_live", "avg_len", "max_ts").collect()
        )

    g, w = rows(got), rows(want)
    return len(g) == len(w) and all(
        a[0] == b[0] and a[1] == b[1] and a[3] == b[3]
        and ((a[2] is None and b[2] is None) or math.isclose(a[2], b[2], rel_tol=1e-9))
        for a, b in zip(g, w)
    )


CHILD_COLS = KEY + ["role", "n_chars", "ts"]


def expected_child(live):
    """The derived child: assistant rows, text projected to its length."""
    return live.filter(F.col("role") == "assistant").select(
        *KEY, "role", F.length("text").cast("bigint").alias("n_chars"), "ts")


def same_child(got, want) -> bool:
    return digest(got, CHILD_COLS) == digest(want, CHILD_COLS)


# --------------------------------------------------------------- lookups
def lookup_rows(rows) -> list[tuple]:
    """Live rows of one point read, as sorted (key + payload) tuples."""
    out = [
        tuple(r.asDict().get(c) for c in STATE_COLS)
        for r in rows
        if r.asDict().get("is_current") is not False
    ]
    return sorted(out, key=repr)


def same_lookups(before: list, after: list) -> bool:
    return len(before) == len(after) and all(
        lookup_rows(a) == lookup_rows(b) for a, b in zip(before, after)
    )
