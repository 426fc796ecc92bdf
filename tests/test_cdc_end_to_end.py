"""End-to-end CDC replay vs the reference-replay oracle (SURVEY §5.2)."""

import datetime as dt

import pyspark.sql.functions as F
import pytest

from tests.conftest import assert_pdf_equal
from tpc_di_spark.cdc import CdcOrchestrator, current_state
from tpc_di_spark.cdc.generator import historical_batch, incremental_batch
from tpc_di_spark.cdc.oracle import OracleState
from tpc_di_spark.cdc.orchestrator import bootstrap_table
from tpc_di_spark.schemas import TRANSCRIPT_SCHEMA

N_CONVS = 40
TURNS = 8


def make_batches(spark, with_tool_from=3, n_batches=3):
    batches = [(1, historical_batch(spark, N_CONVS, TURNS))]
    for b in range(2, n_batches + 1):
        batches.append(
            (
                b,
                incremental_batch(
                    spark,
                    batch_id=b,
                    n_events=600,
                    n_convs=N_CONVS,
                    turns_per_conv=TURNS,
                    skew=2.0,
                    with_tool=(b >= with_tool_from),
                ),
            )
        )
    return batches


def run_oracle(batches):
    oracle = OracleState(payload_cols=["role", "text", "ts"])
    for bid, df in batches:
        oracle.apply_batch(df.toPandas(), bid)
    return oracle


@pytest.fixture(scope="module")
def replayed(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("lake") / "transcripts")
    table = bootstrap_table(spark, path, TRANSCRIPT_SCHEMA, num_buckets=8)
    orch = CdcOrchestrator(table, buckets_per_group=3)
    batches = make_batches(spark)
    metrics = orch.replay(batches)
    return table, orch, batches, metrics


def test_final_state_matches_oracle(replayed, spark):
    table, _, batches, _ = replayed
    oracle = run_oracle(batches)
    got = current_state(table).toPandas()
    want = oracle.current_df()
    assert_pdf_equal(got, want, ["conv_id", "turn_idx"])


def test_full_lineage_matches_oracle(replayed, spark):
    table, _, batches, _ = replayed
    oracle = run_oracle(batches)
    # end_ts=9999-12-31 overflows pandas ns timestamps; compare as strings.
    ts_cols = ["ts", "effective_ts", "end_ts"]
    df = table.read()
    got = df.select(
        *[c for c in df.columns if c not in ts_cols],
        *[F.date_format(c, "yyyy-MM-dd HH:mm:ss").alias(c) for c in ts_cols],
    ).toPandas()
    want = oracle.full_df()
    for c in ts_cols:
        want[c] = want[c].map(
            lambda v: v.strftime("%Y-%m-%d %H:%M:%S") if v is not None else None
        )
    sort = ["conv_id", "turn_idx", "effective_ts", "is_current"]
    assert_pdf_equal(got[want.columns], want, sort)


def test_schema_evolution_applied(replayed):
    table, *_ = replayed
    names = [f.name for f in table.schema.fields]
    assert "tool" in names
    # Pre-evolution rows read back as NULL tool.
    df = table.read()
    assert df.filter((F.col("batch_id") < 3) & F.col("tool").isNotNull()).count() == 0


def test_lineage_named_event_column_refused(spark, tmp_path):
    """An event column named like a lineage column is refused by name
    BEFORE the evolve commit: no snapshot, schema unchanged (it used to
    commit an evolve-schema snapshot holding ``is_current`` twice and
    only then fail on alignment). ``evolve_schema`` itself refuses a
    duplicated column name."""
    from pyspark.sql.types import BooleanType, StructField, StructType

    table = bootstrap_table(spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, num_buckets=4)
    orch = CdcOrchestrator(table)
    orch.apply_batch(
        spark.createDataFrame(
            [("I", 1, "a", 0, "user", "hi", dt.datetime(2024, 1, 1))],
            "cdc_flag string, cdc_dsn long, conv_id string, turn_idx int, "
            "role string, text string, ts timestamp",
        ),
        1,
    )
    history, schema = len(table.history()), table.schema
    bad = spark.createDataFrame(
        [("U", 2, "a", 0, "user", "hey", dt.datetime(2024, 1, 2), True)],
        "cdc_flag string, cdc_dsn long, conv_id string, turn_idx int, "
        "role string, text string, ts timestamp, is_current boolean",
    )
    with pytest.raises(ValueError, match=r"lineage column\(s\) \['is_current'\]"):
        orch.apply_batch(bad, 2)
    table.refresh()
    assert len(table.history()) == history
    assert table.schema == schema
    assert not table.is_batch_committed(2)
    dup = StructType(schema.fields + [StructField("is_current", BooleanType(), True)])
    with pytest.raises(ValueError, match="may not duplicate"):
        table.evolve_schema(dup)
    assert len(table.refresh().history()) == history


def test_idempotent_reapply(replayed, spark):
    table, orch, batches, _ = replayed
    before = table.snapshot.snapshot_id
    rec = orch.apply_batch(batches[-1][1], batches[-1][0])
    assert rec.get("skipped") == "already-committed"
    assert table.refresh().snapshot.snapshot_id == before


def test_metrics_emitted(replayed):
    _, _, _, metrics = replayed
    applied = [m for m in metrics if "skipped" not in m]
    assert len(applied) == 3
    for m in applied:
        assert m["events_in"] > 0
        assert m["buckets_touched"] >= 1
        assert all("rows_written" in g for g in m["groups"])  # per-partition lineage


def test_event_order_permutation_invariance(spark, tmp_path):
    """Shuffling intra-batch event order must not change the final state —
    LWW is keyed on (conv_id, turn_idx, ts, cdc_dsn), never file order."""
    batches = make_batches(spark, n_batches=2)

    def run(order_desc: bool):
        path = str(tmp_path / f"lake-{order_desc}")
        table = bootstrap_table(spark, path, TRANSCRIPT_SCHEMA, num_buckets=8)
        orch = CdcOrchestrator(table)
        for bid, df in batches:
            shuffled = df.orderBy(F.col("cdc_dsn").desc() if order_desc else F.col("cdc_dsn"))
            orch.apply_batch(shuffled, bid)
        return current_state(table).toPandas()

    assert_pdf_equal(run(False), run(True), ["conv_id", "turn_idx"])


def test_upsert_for_unknown_key_and_delete_then_reinsert(spark, tmp_path):
    path = str(tmp_path / "edge")
    table = bootstrap_table(spark, path, TRANSCRIPT_SCHEMA, num_buckets=4)
    orch = CdcOrchestrator(table)
    t0 = dt.datetime(2024, 1, 1)
    mk = lambda rows: spark.createDataFrame(
        rows, "cdc_flag string, cdc_dsn long, conv_id string, turn_idx int, role string, text string, ts timestamp"
    )
    orch.apply_batch(
        mk(
            [
                ("U", 1, "cX", 0, "user", "update-without-insert", t0),
                ("I", 2, "cY", 0, "user", "will-be-deleted", t0),
            ]
        ),
        1,
    )
    state = {(r.conv_id, r.turn_idx): r.text for r in current_state(table).collect()}
    assert state[("cX", 0)] == "update-without-insert", "U on absent key upserts"
    orch.apply_batch(
        mk(
            [
                ("D", 1, "cY", 0, None, None, t0 + dt.timedelta(seconds=10)),
            ]
        ),
        2,
    )
    assert ("cY", 0) not in {
        (r.conv_id, r.turn_idx) for r in current_state(table).collect()
    }
    orch.apply_batch(
        mk([("I", 1, "cY", 0, "user", "reborn", t0 + dt.timedelta(seconds=20))]), 3
    )
    rows = current_state(table).filter("conv_id = 'cY'").collect()
    assert len(rows) == 1 and rows[0].text == "reborn"
    # Lineage: cY turn 0 has one closed version (the delete closed it;
    # D inserts no new version) + one current (the re-insert).
    versions = table.read().filter("conv_id = 'cY' and turn_idx = 0").collect()
    assert sorted(v.is_current for v in versions) == [False, True]


def test_update_null_fields_retain_current_values(spark, tmp_path):
    """UPDACCT semantics: fields not present retain current values
    (Historical/dim_account.py:51-63)."""
    path = str(tmp_path / "retain")
    table = bootstrap_table(spark, path, TRANSCRIPT_SCHEMA, num_buckets=4)
    orch = CdcOrchestrator(table)
    t0 = dt.datetime(2024, 1, 1)
    mk = lambda rows: spark.createDataFrame(
        rows, "cdc_flag string, cdc_dsn long, conv_id string, turn_idx int, role string, text string, ts timestamp"
    )
    orch.apply_batch(mk([("I", 1, "c1", 0, "assistant", "original", t0)]), 1)
    orch.apply_batch(
        mk([("U", 1, "c1", 0, None, "revised", t0 + dt.timedelta(seconds=5))]), 2
    )
    row = current_state(table).filter("conv_id='c1'").collect()[0]
    assert row.text == "revised"
    assert row.role == "assistant", "NULL role in U retains prior value"


def test_crash_resume_mid_batch(spark, tmp_path):
    """Kill between partition groups of a batch; resume from the checkpoint
    manifests; final state equals an uninterrupted run (SURVEY §5.2 item 5)."""
    batches = make_batches(spark, n_batches=2)

    def build(path):
        table = bootstrap_table(spark, str(path), TRANSCRIPT_SCHEMA, num_buckets=8)
        return table, CdcOrchestrator(table, buckets_per_group=2)

    # Uninterrupted reference run.
    t_ref, o_ref = build(tmp_path / "ref")
    for bid, df in batches:
        o_ref.apply_batch(df, bid)

    # Crashing run: fail after the second group of batch 2.
    t_crash, o_crash = build(tmp_path / "crash")
    o_crash.apply_batch(batches[0][1], 1)

    calls = {"n": 0}
    orig = t_crash.write_data_files_split

    def flaky(df, tag, **kw):
        calls["n"] += 1
        if calls["n"] == 3:
            raise RuntimeError("simulated kill")
        return orig(df, tag, **kw)

    t_crash.write_data_files_split = flaky
    with pytest.raises(RuntimeError, match="simulated kill"):
        o_crash.apply_batch(batches[1][1], 2)
    t_crash.write_data_files_split = orig

    # Crash left the table on the pre-batch snapshot (atomicity).
    assert t_crash.refresh().snapshot.snapshot_id == t_ref.read_snapshot(
        t_ref.snapshot.parent_id
    ).snapshot_id
    assert not t_crash.is_batch_committed(2)

    # Resume: sealed groups are reused, the rest recomputed.
    rec = o_crash.apply_batch(batches[1][1], 2)
    assert any(g.get("resumed") for g in rec["groups"]), "checkpointed groups reused"
    assert_pdf_equal(
        current_state(t_crash).toPandas(),
        current_state(t_ref).toPandas(),
        ["conv_id", "turn_idx"],
    )


def test_single_group_resume_after_seal(spark, tmp_path):
    """The whole-table single-group path (buckets_per_group >= buckets,
    the bulk-replay shape): killed at the commit after its manifest was
    sealed, the batch resumes from the manifest. The forced counting
    pass resolves the input accounting (events_in is the input count),
    a NULL-key event under the "error" policy still fails the batch
    before its commit, and the final state equals an uninterrupted
    run."""
    batches = make_batches(spark, n_batches=2)

    def build(path):
        table = bootstrap_table(spark, str(path), TRANSCRIPT_SCHEMA, num_buckets=4)
        return table, CdcOrchestrator(table, buckets_per_group=4)

    t_ref, o_ref = build(tmp_path / "ref")
    for bid, df in batches:
        o_ref.apply_batch(df, bid)

    t, o = build(tmp_path / "crash")
    o.apply_batch(batches[0][1], 1)
    ev2 = batches[1][1]
    orig = t.commit

    def killed(*a, **kw):
        raise RuntimeError("kill at commit")

    t.commit = killed
    with pytest.raises(RuntimeError, match="kill at commit"):
        o.apply_batch(ev2, 2)
    t.commit = orig
    assert not t.refresh().is_batch_committed(2)

    # Same batch id, same sealed manifest, but a NULL-key event in the
    # input: the forced pass sees it and the batch fails uncommitted.
    poisoned = ev2.unionByName(
        spark.createDataFrame(
            [("I", 99_999, None, 1, "user", "null conv", dt.datetime(2024, 1, 9))],
            "cdc_flag string, cdc_dsn long, conv_id string, turn_idx int, "
            "role string, text string, ts timestamp",
        ),
        allowMissingColumns=True,
    )
    with pytest.raises(ValueError, match="NULL business-key"):
        o.apply_batch(poisoned, 2)
    assert not t.refresh().is_batch_committed(2)

    rec = o.apply_batch(ev2, 2)
    assert rec["groups"][0]["resumed"] is True
    assert rec["events_in"] == ev2.count()
    assert_pdf_equal(
        current_state(t).toPandas(),
        current_state(t_ref).toPandas(),
        ["conv_id", "turn_idx"],
    )


def test_empty_batch_commits_with_zero_counts(spark, tmp_path):
    """An empty batch commits on both the grouped and the single-group
    path with events_in == 0. AQE replaces an empty input by an empty
    relation, which drops the accounting Observation from the plan; the
    counts must come from a direct count instead of failing the apply."""
    batches = make_batches(spark, n_batches=1)
    for bpg in (2, 8):
        table = bootstrap_table(
            spark, str(tmp_path / f"t{bpg}"), TRANSCRIPT_SCHEMA, num_buckets=8
        )
        orch = CdcOrchestrator(table, buckets_per_group=bpg)
        orch.apply_batch(batches[0][1], 1)
        before = current_state(table).count()
        rec = orch.apply_batch(batches[0][1].limit(0), 2)
        assert rec["events_in"] == 0 and rec["events_null_key"] == 0
        assert table.is_batch_committed(2)
        assert current_state(table).count() == before


def test_resume_across_geometry_change(spark, tmp_path):
    """A batch killed mid-apply in grouped mode then resumed in SINGLE-group
    mode must not reuse the grouped manifest (which covers only the first
    bucket group) as the whole-batch result — geometry is stamped into each
    checkpoint manifest and a mismatch forces recomputation."""
    batches = make_batches(spark, n_batches=2)

    t_ref = bootstrap_table(spark, str(tmp_path / "ref"), TRANSCRIPT_SCHEMA, num_buckets=8)
    o_ref = CdcOrchestrator(t_ref, buckets_per_group=8)
    for bid, df in batches:
        o_ref.apply_batch(df, bid)

    t = bootstrap_table(spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, num_buckets=8)
    grouped = CdcOrchestrator(t, buckets_per_group=2)
    grouped.apply_batch(batches[0][1], 1)

    # Kill after the first group's manifest is sealed.
    calls = {"n": 0}
    orig = t.write_data_files_split

    def flaky(df, tag, **kw):
        if calls["n"] == 1:
            raise RuntimeError("simulated kill")
        calls["n"] += 1
        return orig(df, tag, **kw)

    t.write_data_files_split = flaky
    with pytest.raises(RuntimeError, match="simulated kill"):
        grouped.apply_batch(batches[1][1], 2)
    t.write_data_files_split = orig

    # Resume under a DIFFERENT geometry: single-group fast path.
    single = CdcOrchestrator(t, buckets_per_group=8)
    rec = single.apply_batch(batches[1][1], 2)
    assert not any(g.get("resumed") for g in rec["groups"]), (
        "stale grouped manifest must be invalidated, not reused"
    )
    assert_pdf_equal(
        current_state(t).toPandas(),
        current_state(t_ref).toPandas(),
        ["conv_id", "turn_idx"],
    )


def test_cross_batch_ordering_is_batch_id_first(spark, tmp_path):
    """Locks the documented cross-batch semantics (CDC_DSN-monotone model,
    matching the reference's strictly sequential Batch2->Batch3 stream):
    a later BATCH wins even when its event carries an OLDER timestamp —
    ts/dsn order applies only WITHIN a batch's LWW fold."""
    from tpc_di_spark.cdc.mor import apply_batch_mor, current_state_mor

    def mk(rows):
        return spark.createDataFrame(
            rows,
            "cdc_flag string, cdc_dsn long, conv_id string, turn_idx int, "
            "role string, text string, ts timestamp",
        )

    t1 = dt.datetime(2024, 1, 10)
    t0 = dt.datetime(2024, 1, 5)  # OLDER than the batch-1 version
    for mode in ("cow", "mor"):
        table = bootstrap_table(
            spark, str(tmp_path / mode), TRANSCRIPT_SCHEMA, num_buckets=4
        )
        orch = CdcOrchestrator(table, buckets_per_group=4)
        b1 = mk([("I", 1, "c1", 0, "user", "from-batch-1", t1)])
        b2 = mk([("U", 2, "c1", 0, "user", "from-batch-2-older-ts", t0)])
        if mode == "cow":
            orch.apply_batch(b1, 1)
            orch.apply_batch(b2, 2)
            state = current_state(table)
        else:
            apply_batch_mor(orch, b1, 1)
            apply_batch_mor(orch, b2, 2)
            state = current_state_mor(table)
        row = state.filter("conv_id = 'c1'").collect()[0]
        assert row.text == "from-batch-2-older-ts", (
            f"{mode}: batch-id-first ordering — the later batch's change "
            "applies even with an older event timestamp"
        )
