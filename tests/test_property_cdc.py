"""Property-based CDC semantics check (SURVEY §5.2 item 3, generalized):
for ANY sequence of change events — arbitrary key collisions, NULL-field
updates, deletes, out-of-order timestamps across batches, any batch
split — the distributed engine's final state equals the sequential
oracle's."""

import datetime as dt

import pandas as pd
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from tests.conftest import assert_pdf_equal
from tpc_di_spark.cdc import CdcOrchestrator, current_state
from tpc_di_spark.cdc.oracle import OracleState
from tpc_di_spark.cdc.orchestrator import bootstrap_table
from tpc_di_spark.schemas import TRANSCRIPT_SCHEMA

T0 = dt.datetime(2024, 1, 1)

event_st = st.tuples(
    st.sampled_from(["I", "U", "D"]),
    st.sampled_from(["c0", "c1", "c2"]),  # few keys -> heavy collisions
    st.integers(0, 2),
    st.one_of(st.none(), st.sampled_from(["user", "assistant", "tool"])),
    st.one_of(st.none(), st.text(alphabet="abxyz", min_size=0, max_size=6)),
    st.integers(0, 50),  # ts seconds (duplicates + out-of-order likely)
)

events_st = st.lists(event_st, min_size=1, max_size=25)
split_st = st.integers(1, 3)


@pytest.fixture(scope="module")
def counter():
    return {"n": 0}


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(events=events_st, n_batches=split_st)
def test_any_event_sequence_matches_oracle(spark, tmp_path_factory, counter, events, n_batches):
    rows = [
        (flag, i, conv, turn, role, text, T0 + dt.timedelta(seconds=ts))
        for i, (flag, conv, turn, role, text, ts) in enumerate(events)
    ]
    schema = (
        "cdc_flag string, cdc_dsn long, conv_id string, turn_idx int, "
        "role string, text string, ts timestamp"
    )
    # Split into contiguous batches (the oracle applies the same split).
    size = max(1, len(rows) // n_batches)
    chunks = [rows[i : i + size] for i in range(0, len(rows), size)]

    counter["n"] += 1
    path = str(tmp_path_factory.mktemp("prop") / f"t{counter['n']}")
    table = bootstrap_table(spark, path, TRANSCRIPT_SCHEMA, num_buckets=4)
    orch = CdcOrchestrator(table)
    from tpc_di_spark.lake.incremental_agg import ConvStatsConsumer
    from tpc_di_spark.lake.incremental_view import IncrementalView

    consumer = ConvStatsConsumer(table, path + "_stats")
    # keyed on a NULLABLE column on purpose: the state merge must fold
    # NULL keys like GROUP BY does, and the sum must invert exactly
    # under retention chains and delete-reinsert.
    role_view = IncrementalView(
        table, path + "_roleview", ["role"],
        [("count_live", None, "n_live"),
         ("sum_live", "cast(length(text) as bigint)", "chars")],
    )
    oracle = OracleState(payload_cols=["role", "text", "ts"])
    for bid, chunk in enumerate(chunks, start=1):
        df = spark.createDataFrame(chunk, schema)
        orch.apply_batch(df, bid)
        consumer.refresh()  # incremental per-batch consumption
        role_view.refresh()
        oracle.apply_batch(
            pd.DataFrame(
                chunk,
                columns=["cdc_flag", "cdc_dsn", "conv_id", "turn_idx", "role", "text", "ts"],
            ),
            bid,
        )

    got = current_state(table).toPandas()
    want = oracle.current_df()
    assert_pdf_equal(got, want, ["conv_id", "turn_idx"])

    # the incrementally-maintained rollup must agree with ground truth
    # for ANY event sequence (delete-reinsert chains, in-batch LWW, ...)
    import pyspark.sql.functions as F

    stats = {
        r.conv_id: (r.live_turns, r.versions_created, r.versions_closed)
        for r in consumer.state().collect()
    }
    # Delete tombstones (batch_id < 0, cdc/apply.py) are neither created
    # nor closed versions — ground-truth recomputes exclude them, like
    # the changelog reads the consumers are built on.
    truth = {
        r.conv_id: (r.live, r.created, r.closed)
        for r in table.read()
        .filter(F.col("batch_id") >= 0)
        .groupBy("conv_id")
        .agg(
            F.sum(F.col("is_current").cast("long")).alias("live"),
            F.count(F.lit(1)).alias("created"),
            F.sum((~F.col("is_current")).cast("long")).alias("closed"),
        )
        .collect()
    }
    assert stats == truth

    view_got = {
        r.role: (r.n_live, r.chars) for r in role_view.state().collect()
    }
    view_truth = {
        r.role: (r.live, r.chars)
        for r in table.read()
        .filter(F.col("batch_id") >= 0)
        .groupBy("role")
        .agg(
            F.sum(F.col("is_current").cast("long")).alias("live"),
            F.sum(
                F.when(F.col("is_current"), F.length("text").cast("long"))
            ).alias("chars"),
        )
        .collect()
    }
    # the view's sum folds from 0, so an all-NULL live set reads 0 where
    # the recompute's empty SUM reads NULL — normalize that one case
    norm = {k: (v[0], v[1] if v[1] is not None else 0) for k, v in view_truth.items()}
    view_norm = {k: (v[0], v[1] if v[1] is not None else 0) for k, v in view_got.items()}
    assert view_norm == norm


def test_operators_deterministic_across_partitioning(spark):
    """Scale invariant: hash-family operators (MinHash, SimHash,
    hyperplane buckets, salted agg) must produce identical results
    whatever the input partitioning — the local analogue of running on a
    different cluster size."""
    import pyspark.sql.functions as F

    from tpc_di_spark.operators.dedup import minhash_signatures, simhash64
    from tpc_di_spark.operators.salting import salted_agg
    from tpc_di_spark.operators.similarity import hyperplane_buckets

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta tok{i % 7} tail{i % 3}") for i in range(50)],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [(i, [float((i * 7 + d) % 13) - 6.0 for d in range(8)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )

    def rows(df):
        return sorted(map(tuple, df.collect()))

    for parts in (1, 13):
        d = docs.repartition(parts)
        e = emb.repartition(parts)
        mh = rows(minhash_signatures(d, "doc_id", "text", n=2, num_hashes=8)
                  .select("doc", F.col("signature").cast("string")))
        sh = rows(simhash64(d, "doc_id", "text"))
        hb = rows(hyperplane_buckets(e, "vec_id", "embedding", bits=4, dim=8)
                  .select("vec_id", "bucket"))
        sa = rows(salted_agg(
            d.withColumn("v", F.col("doc_id").cast("decimal(12,2)")),
            ["text"], {"n": ("count", "*"), "s": ("sum", "v")},
            salt_from=["doc_id"], buckets=4,
        ).select("text", "n", F.col("s").cast("double")))
        if parts == 1:
            base = (mh, sh, hb, sa)
        else:
            assert (mh, sh, hb, sa) == base


def test_engine_final_state_invariant_to_parallelism(spark, tmp_path):
    """The replayed table state must not depend on how the change stream
    was partitioned (1 vs 13 input partitions) — the correctness half of
    the two-cluster-size criterion (throughput half lives in bench.py)."""
    from tests.conftest import assert_pdf_equal
    from tpc_di_spark.cdc import CdcOrchestrator, current_state
    from tpc_di_spark.cdc.generator import historical_batch, incremental_batch
    from tpc_di_spark.cdc.orchestrator import bootstrap_table
    from tpc_di_spark.schemas import TRANSCRIPT_SCHEMA

    states = []
    for parts in (1, 13):
        t = bootstrap_table(
            spark, str(tmp_path / f"t{parts}"), TRANSCRIPT_SCHEMA, num_buckets=8
        )
        orch = CdcOrchestrator(t, buckets_per_group=8)
        orch.apply_batch(historical_batch(spark, 30, 6).repartition(parts), 1)
        orch.apply_batch(
            incremental_batch(spark, 2, 400, 30, 6, skew=2.0).repartition(parts), 2
        )
        states.append(
            current_state(t)
            .select("conv_id", "turn_idx", "role", "text", "ts")
            .toPandas()
        )
    assert_pdf_equal(states[0], states[1], ["conv_id", "turn_idx"])


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(events=events_st, n_batches=split_st, staged=st.lists(st.booleans(), min_size=3, max_size=3))
def test_any_event_sequence_matches_oracle_through_wap(
    spark, tmp_path_factory, counter, events, n_batches, staged
):
    """WAP staging is semantics-neutral: for ANY event sequence, applying
    each batch either directly or via stage→audit→publish yields the
    same final state as the sequential oracle — the branch machinery can
    never change what a batch means."""
    from tpc_di_spark.lake.wap import WapBranch, list_branches, unique_business_key

    rows = [
        (flag, i, conv, turn, role, text, T0 + dt.timedelta(seconds=ts))
        for i, (flag, conv, turn, role, text, ts) in enumerate(events)
    ]
    schema = (
        "cdc_flag string, cdc_dsn long, conv_id string, turn_idx int, "
        "role string, text string, ts timestamp"
    )
    size = max(1, len(rows) // n_batches)
    chunks = [rows[i : i + size] for i in range(0, len(rows), size)]

    counter["n"] += 1
    path = str(tmp_path_factory.mktemp("propw") / f"t{counter['n']}")
    table = bootstrap_table(spark, path, TRANSCRIPT_SCHEMA, num_buckets=4)
    orch = CdcOrchestrator(table)
    oracle = OracleState(payload_cols=["role", "text", "ts"])
    for bid, chunk in enumerate(chunks, start=1):
        df = spark.createDataFrame(chunk, schema)
        if staged[(bid - 1) % len(staged)]:
            wap = WapBranch.begin(table, f"p{bid}")
            orch.for_table(wap.staged).apply_batch(df, bid)
            wap.audit([unique_business_key()])
            wap.publish()
            table.refresh()
        else:
            orch.apply_batch(df, bid)
        oracle.apply_batch(
            pd.DataFrame(
                chunk,
                columns=["cdc_flag", "cdc_dsn", "conv_id", "turn_idx", "role", "text", "ts"],
            ),
            bid,
        )

    assert list_branches(table) == {}
    got = current_state(table).toPandas()
    want = oracle.current_df()
    assert_pdf_equal(got, want, ["conv_id", "turn_idx"])


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    events=events_st,
    refresh_after=st.lists(st.booleans(), min_size=1, max_size=3),
    compact_buckets=st.lists(st.sets(st.integers(0, 3)), min_size=3, max_size=3),
)
def test_derived_sync_equals_filter_projection(
    spark, tmp_path_factory, counter, events, refresh_after, compact_buckets
):
    """For ANY event sequence, any refresh schedule (skipped refreshes
    make multi-batch ranges) and any bucket subset compacted before each
    refresh (a partial rewrite re-tags only some of a batch's closes), an
    identity replica and a filtered, projected replica equal σ/π of the
    parent's live state after every refresh — NULL roles make the filter
    NULL, updates cross it both ways, deletes of unknown keys leave
    tombstones the fold must skip."""
    import pyspark.sql.functions as F
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from tpc_di_spark.lake.derived import DerivedTableSync
    from tpc_di_spark.lake.maintenance import compact
    from tpc_di_spark.schemas import LINEAGE_FIELDS

    rows = [
        (flag, i, conv, turn, role, text, T0 + dt.timedelta(seconds=ts))
        for i, (flag, conv, turn, role, text, ts) in enumerate(events)
    ]
    schema = (
        "cdc_flag string, cdc_dsn long, conv_id string, turn_idx int, "
        "role string, text string, ts timestamp"
    )
    size = -(-len(rows) // len(refresh_after))
    chunks = [rows[i : i + size] for i in range(0, len(rows), size)]

    counter["n"] += 1
    base = tmp_path_factory.mktemp("derived_prop") / f"t{counter['n']}"
    parent = bootstrap_table(spark, str(base / "p"), TRANSCRIPT_SCHEMA, num_buckets=4)
    replica = bootstrap_table(spark, str(base / "r"), TRANSCRIPT_SCHEMA, num_buckets=4)
    child_schema = StructType(
        [
            StructField("conv_id", StringType(), False),
            StructField("turn_idx", IntegerType(), False),
            StructField("role", StringType(), True),
            StructField("n_chars", LongType(), True),
            StructField("ts", TimestampType(), True),
        ]
        + LINEAGE_FIELDS
    )
    child = bootstrap_table(spark, str(base / "c"), child_schema, num_buckets=4)
    n_chars = "cast(length(text) as bigint)"
    syncs = [
        (DerivedTableSync(parent, replica, str(base / "rs")), None, None),
        (
            DerivedTableSync(
                parent, child, str(base / "cs"), filter_expr="role = 'assistant'",
                select_exprs={"role": "role", "n_chars": n_chars},
            ),
            "role = 'assistant'",
            ["role", F.expr(n_chars).alias("n_chars")],
        ),
    ]
    orch = CdcOrchestrator(parent)

    def by_key(df):
        return {(r.conv_id, r.turn_idx): tuple(r) for r in df.collect()}

    for bid, (chunk, do_refresh) in enumerate(zip(chunks, refresh_after), start=1):
        orch.apply_batch(spark.createDataFrame(chunk, schema), bid)
        if not (do_refresh or bid == len(chunks)):
            continue
        if compact_buckets[bid - 1]:
            compact(parent, buckets=sorted(compact_buckets[bid - 1]))
        live = current_state(parent)
        for sync, flt, proj in syncs:
            rec = sync.refresh()
            assert rec["batch_id"] == bid
            want = live if flt is None else live.filter(F.expr(flt)).select(
                "conv_id", "turn_idx", *proj, "ts"
            )
            got = current_state(sync.child)
            assert by_key(got.select(*want.columns)) == by_key(want), (bid, flt)


# Every IncrementalView aggregate kind over a NULLABLE key (role).
ALL_KINDS = [
    ("count_live", None, "n_live"),
    ("sum_live", "cast(length(text) as bigint)", "chars"),
    ("count_versions", None, "n_created"),
    ("count_closed", None, "n_closed"),
    ("max_created", "ts", "hi_ts"),
    ("min_created", "ts", "lo_ts"),
    ("avg_live", "cast(length(text) as bigint)", "avg_chars"),
    ("last_by_ts", "text", "last_text"),
    ("max_live", "cast(length(text) as bigint)", "hi_chars"),
    ("min_live", "text", "lo_text"),
]


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(events=events_st, refresh_after=st.lists(st.booleans(), min_size=1, max_size=3))
# Pinned: the second refresh retracts a unique max and min ("xyz" dies,
# "ab" updates to "a" under the NULL role), so the repair must run.
@example(
    events=[("I", "c0", 0, "user", "xyz", 1), ("I", "c1", 0, None, "ab", 2),
            ("D", "c0", 0, None, None, 3), ("U", "c1", 0, None, "a", 4)],
    refresh_after=[True, True],
)
# Pinned: the second refresh deletes every live row of the "user" group,
# whose SUM must then read NULL, not 0.
@example(
    events=[("I", "c0", 0, "user", "ab", 1), ("I", "c1", 0, None, "x", 2),
            ("D", "c0", 0, None, None, 3), ("U", "c1", 0, None, "y", 4)],
    refresh_after=[True, True],
)
def test_view_every_kind_equals_recompute(
    spark, tmp_path_factory, counter, events, refresh_after
):
    """For ANY event sequence and any refresh schedule (skipped refreshes
    make multi-batch ranges), a view holding every aggregate kind keyed
    on a column that can be NULL equals a full-lineage recompute after
    every refresh — including live extremes retracted by deletes and
    updates, and sums whose live set went all-NULL."""
    import pyspark.sql.functions as F

    from tpc_di_spark.lake.incremental_view import IncrementalView

    rows = [
        (flag, i, conv, turn, role, text, T0 + dt.timedelta(seconds=ts))
        for i, (flag, conv, turn, role, text, ts) in enumerate(events)
    ]
    schema = (
        "cdc_flag string, cdc_dsn long, conv_id string, turn_idx int, "
        "role string, text string, ts timestamp"
    )
    size = -(-len(rows) // len(refresh_after))
    chunks = [rows[i : i + size] for i in range(0, len(rows), size)]

    counter["n"] += 1
    base = str(tmp_path_factory.mktemp("view_prop") / f"t{counter['n']}")
    table = bootstrap_table(spark, base, TRANSCRIPT_SCHEMA, num_buckets=4)
    orch = CdcOrchestrator(table)
    view = IncrementalView(table, base + "_view", ["role"], ALL_KINDS)
    names = [n for _k, _e, n in ALL_KINDS]

    def recompute():
        # Tombstones (batch_id < 0) are no created versions.
        lineage = table.read().filter(F.col("batch_id") >= 0)
        cur, x = F.col("is_current"), F.length("text").cast("long")
        agg = lineage.groupBy("role").agg(
            F.sum(cur.cast("long")).alias("n_live"),
            F.sum(F.when(cur, x)).alias("chars"),
            F.count(F.lit(1)).alias("n_created"),
            F.sum((~cur).cast("long")).alias("n_closed"),
            F.max("ts").alias("hi_ts"),
            F.min("ts").alias("lo_ts"),
            F.avg(F.when(cur, x)).alias("avg_chars"),
            F.max(
                F.struct(F.col("ts"), F.col("batch_id").cast("long"), F.col("text").alias("v"))
            ).getField("v").alias("last_text"),
            F.max(F.when(cur, x)).alias("hi_chars"),
            F.min(F.when(cur, F.col("text"))).alias("lo_text"),
        )
        return {r.role: tuple(r[n] for n in names) for r in agg.collect()}

    for bid, (chunk, do_refresh) in enumerate(zip(chunks, refresh_after), start=1):
        orch.apply_batch(spark.createDataFrame(chunk, schema), bid)
        if not (do_refresh or bid == len(chunks)):
            continue
        got = {r.role: tuple(r[n] for n in names) for r in view.refresh().collect()}
        want = recompute()
        assert got.keys() == want.keys(), bid
        for role, w in want.items():
            assert got[role] == pytest.approx(w), (bid, role, got[role], w)
