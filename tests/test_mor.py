"""Merge-on-read delta path: live-view equality, lineage-exact compaction,
exactly-once, resume."""

import pyspark.sql.functions as F
import pytest

from tests.conftest import assert_pdf_equal
from tests.test_cdc_end_to_end import make_batches, run_oracle
from tpc_di_spark.cdc import CdcOrchestrator, current_state
from tpc_di_spark.cdc.mor import (
    apply_batch_mor,
    compact_deltas,
    current_state_mor,
    pending_delta_batches,
)
from tpc_di_spark.cdc.orchestrator import bootstrap_table
from tpc_di_spark.schemas import TRANSCRIPT_SCHEMA


@pytest.fixture(scope="module")
def mor_setup(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("mor")
    batches = make_batches(spark)

    # MoR table: historical batch CoW, batches 2-3 as deltas.
    t_mor = bootstrap_table(spark, str(root / "mor"), TRANSCRIPT_SCHEMA, num_buckets=8)
    o_mor = CdcOrchestrator(t_mor)
    o_mor.apply_batch(batches[0][1], 1)
    for bid, df in batches[1:]:
        apply_batch_mor(o_mor, df, bid)

    # Reference: all-CoW replay of the same batches.
    t_cow = bootstrap_table(spark, str(root / "cow"), TRANSCRIPT_SCHEMA, num_buckets=8)
    o_cow = CdcOrchestrator(t_cow)
    o_cow.replay(batches)
    return t_mor, o_mor, t_cow, batches


def test_mor_live_view_matches_oracle_and_cow(mor_setup, spark):
    t_mor, _, t_cow, batches = mor_setup
    live = current_state_mor(t_mor).toPandas()
    oracle = run_oracle(batches).current_df()
    assert_pdf_equal(live, oracle, ["conv_id", "turn_idx"])
    assert_pdf_equal(live, current_state(t_cow).toPandas(), ["conv_id", "turn_idx"])


def test_mor_exactly_once(mor_setup, spark):
    t_mor, o_mor, _, batches = mor_setup
    before = t_mor.refresh().snapshot.snapshot_id
    rec = apply_batch_mor(o_mor, batches[1][1], batches[1][0])
    assert rec.get("skipped") == "already-committed"
    assert t_mor.refresh().snapshot.snapshot_id == before
    assert len(pending_delta_batches(t_mor)) == 2


def test_compaction_materializes_identical_lineage(mor_setup, spark):
    t_mor, o_mor, t_cow, batches = mor_setup
    live_before = current_state_mor(t_mor).orderBy("conv_id", "turn_idx").toPandas()
    results = compact_deltas(o_mor)
    assert len(results) == 2
    assert pending_delta_batches(t_mor.refresh()) == []

    # Full SCD2 lineage equals the all-CoW table (same versions, same
    # batch ids, same effective/end timestamps).
    ts_str = lambda df: df.select(
        "conv_id", "turn_idx", "role", "text", "tool", "is_current", "batch_id",
        F.date_format("effective_ts", "yyyy-MM-dd HH:mm:ss").alias("eff"),
        F.date_format("end_ts", "yyyy-MM-dd HH:mm:ss").alias("end"),
    ).toPandas()
    sort = ["conv_id", "turn_idx", "eff", "is_current"]
    assert_pdf_equal(ts_str(t_mor.read()), ts_str(t_cow.read()), sort)

    # Live view unchanged by compaction.
    live_after = current_state(t_mor).orderBy("conv_id", "turn_idx").toPandas()
    assert_pdf_equal(live_before, live_after, ["conv_id", "turn_idx"])


def test_expire_snapshots_keeps_pending_deltas(spark, tmp_path):
    """Snapshot expiry must not garbage-collect pending MoR delta files
    (they are referenced from snapshot properties, not the file map)."""
    import datetime as dt

    from tpc_di_spark.lake.maintenance import expire_snapshots

    table = bootstrap_table(spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, num_buckets=4)
    orch = CdcOrchestrator(table)
    t0 = dt.datetime(2024, 1, 1)
    mk = lambda rows: spark.createDataFrame(
        rows,
        "cdc_flag string, cdc_dsn long, conv_id string, turn_idx int, role string, text string, ts timestamp",
    )
    orch.apply_batch(mk([("I", 1, "c1", 0, "user", "v1", t0)]), 1)
    apply_batch_mor(orch, mk([("U", 1, "c1", 0, None, "v2", t0.replace(hour=1))]), 2)
    expire_snapshots(table, keep_last=1)
    live = current_state_mor(table).collect()
    assert len(live) == 1 and live[0].text == "v2"
    compact_deltas(orch)
    assert current_state(table).collect()[0].text == "v2"


def test_mor_update_retention_and_delete_chain(spark, tmp_path):
    import datetime as dt

    table = bootstrap_table(spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, num_buckets=4)
    orch = CdcOrchestrator(table)
    t0 = dt.datetime(2024, 1, 1)
    mk = lambda rows: spark.createDataFrame(
        rows,
        "cdc_flag string, cdc_dsn long, conv_id string, turn_idx int, role string, text string, ts timestamp",
    )
    orch.apply_batch(mk([("I", 1, "c1", 0, "assistant", "v1", t0)]), 1)
    import datetime as dtm

    sec = lambda s: t0 + dtm.timedelta(seconds=s)
    apply_batch_mor(orch, mk([("U", 1, "c1", 0, None, "v2", sec(10))]), 2)
    apply_batch_mor(orch, mk([("U", 1, "c1", 0, None, None, sec(20))]), 3)
    apply_batch_mor(orch, mk([("D", 1, "c1", 0, None, None, sec(30))]), 4)
    apply_batch_mor(orch, mk([("I", 1, "c1", 0, "user", "reborn", sec(40))]), 5)
    apply_batch_mor(orch, mk([("U", 1, "c1", 0, None, None, sec(50))]), 6)

    live = current_state_mor(table).collect()
    assert len(live) == 1
    row = live[0]
    # U-after-reinsert retains the REBORN values, not pre-delete ones.
    assert row.text == "reborn" and row.role == "user"

    # Compaction reproduces the same live view and full history depth.
    compact_deltas(orch)
    rows = current_state(table).collect()
    assert len(rows) == 1 and rows[0].text == "reborn" and rows[0].role == "user"
    versions = table.read().filter("conv_id='c1'").collect()
    # v1 closed, v2 closed, v2-retained closed, (delete), reborn closed, final current
    assert sorted(v.is_current for v in versions) == [False] * 4 + [True]


def test_lookup_mor_folds_pending_deltas(spark, tmp_path):
    """Point lookup on a MoR table sees pending delta batches (the base
    lookup is stale by design) and scans only the probed buckets' base +
    delta files."""
    import datetime as dt

    from tpc_di_spark.cdc.generator import historical_batch
    from tpc_di_spark.cdc.mor import apply_batch_mor, lookup_mor

    table = bootstrap_table(spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, num_buckets=16)
    orch = CdcOrchestrator(table)
    orch.apply_batch(historical_batch(spark, 50, 4), 1)

    t0 = dt.datetime(2024, 6, 1)
    ev = spark.createDataFrame(
        [
            ("U", 1, "conv-000003", 2, "user", "delta-edit", t0),
            ("D", 2, "conv-000007", 1, None, None, t0),
            ("I", 3, "conv-000099", 0, "user", "delta-new", t0),
        ],
        "cdc_flag string, cdc_dsn long, conv_id string, turn_idx int, "
        "role string, text string, ts timestamp",
    )
    apply_batch_mor(orch, ev, 2)

    # Update visible, delete folded away, insert found — all via lookup.
    assert [r.text for r in lookup_mor(table, {"conv_id": "conv-000003", "turn_idx": 2}).collect()] == ["delta-edit"]
    assert lookup_mor(table, {"conv_id": "conv-000007", "turn_idx": 1}).count() == 0
    assert [r.text for r in lookup_mor(table, {"conv_id": "conv-000099", "turn_idx": 0}).collect()] == ["delta-new"]
    # An untouched key still resolves through the base files.
    assert lookup_mor(table, {"conv_id": "conv-000010", "turn_idx": 0}).count() == 1

    # The BASE lookup is documented-stale under pending deltas.
    assert [r.text for r in table.lookup({"conv_id": "conv-000003", "turn_idx": 2}).collect()] != ["delta-edit"]

    # Pruning: the fold's plan reads at most the probed bucket's files.
    df = lookup_mor(table, {"conv_id": "conv-000003", "turn_idx": 2})
    total = sum(len(v) for v in table.snapshot.files.values())
    assert 0 < len(df.inputFiles()) < total

    # Batch lookups across buckets agree with the full MoR state.
    from tpc_di_spark.cdc.mor import current_state_mor

    keys = [{"conv_id": f"conv-{i:06d}", "turn_idx": 0} for i in range(12)]
    got = {(r.conv_id, r.turn_idx): r.text for r in lookup_mor(table, keys).collect()}
    full = {
        (r.conv_id, r.turn_idx): r.text
        for r in current_state_mor(table).filter("turn_idx = 0").collect()
        if r.conv_id in {k["conv_id"] for k in keys}
    }
    assert got == full


def test_mor_append_refuses_nonpositive_batch_id(spark, tmp_path):
    """A MoR append shares the CoW entry guard: batch_id <= 0 raises and
    commits nothing. A negative id is the delete-tombstone marker, which
    compaction would otherwise materialize as real rows."""
    table = bootstrap_table(spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, num_buckets=4)
    orch = CdcOrchestrator(table)
    events = make_batches(spark, n_batches=1)[0][1]
    before = table.refresh().snapshot.snapshot_id
    for bad in (0, -2):
        with pytest.raises(ValueError, match="batch_id must be >= 1"):
            apply_batch_mor(orch, events, bad)
        assert table.refresh().snapshot.snapshot_id == before
    assert pending_delta_batches(table) == []


def _null_key_batch(spark):
    import datetime as dt

    return spark.createDataFrame(
        [
            ("U", 1, "conv-000001", 0, "user", "kept", dt.datetime(2024, 6, 1)),
            ("I", 2, None, 3, "user", "null conv", dt.datetime(2024, 6, 1)),
        ],
        "cdc_flag string, cdc_dsn long, conv_id string, turn_idx int, "
        "role string, text string, ts timestamp",
    )


def test_mor_append_enforces_null_key_policy(spark, tmp_path):
    """A MoR append counts its input in the one apply core: under the
    default "error" policy a NULL-key event fails the batch before any
    commit (no delta survives to compaction), under "drop" it is filtered
    and reported as events_null_key in the returned and stored record."""
    import json

    from tpc_di_spark.cdc.generator import historical_batch
    from tpc_di_spark.cdc.orchestrator import metrics_path

    table = bootstrap_table(spark, str(tmp_path / "err"), TRANSCRIPT_SCHEMA, num_buckets=4)
    orch = CdcOrchestrator(table)
    orch.apply_batch(historical_batch(spark, 5, 2), 1)
    before = table.snapshot.snapshot_id
    with pytest.raises(ValueError, match="NULL business-key"):
        apply_batch_mor(orch, _null_key_batch(spark), 2)
    assert table.refresh().snapshot.snapshot_id == before
    assert pending_delta_batches(table) == []
    assert not table.is_batch_committed(2)

    table = bootstrap_table(spark, str(tmp_path / "drop"), TRANSCRIPT_SCHEMA, num_buckets=4)
    orch = CdcOrchestrator(table, null_key_policy="drop")
    orch.apply_batch(historical_batch(spark, 5, 2), 1)
    rec = apply_batch_mor(orch, _null_key_batch(spark), 2)
    assert rec["operation"] == "cdc-apply-mor"
    assert (rec["events_in"], rec["events_null_key"]) == (2, 1)
    with open(metrics_path(table.path, 2)) as f:
        assert json.load(f)["events_null_key"] == 1
    assert current_state_mor(table).filter("conv_id is null").count() == 0
    compact_deltas(orch)
    live = current_state(table)
    assert live.filter("conv_id is null").count() == 0
    assert live.filter("text = 'kept'").count() == 1


def test_mor_append_leaves_no_staging(spark, tmp_path):
    """No ``_staging/batch-*`` dir outlives a MoR append: not after a
    commit, not after the exactly-once skip, and not after a conflict
    whose retry finds the batch landed by a duelling driver."""
    import os

    from tests.test_concurrent_writers import B2, EV, _inject_competing_commit
    from tpc_di_spark.lake.table import LakeTable

    table = bootstrap_table(spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, num_buckets=4)
    orch = CdcOrchestrator(table, buckets_per_group=4)
    staging = os.path.join(table.path, "_staging")

    def leftover():
        return os.listdir(staging) if os.path.isdir(staging) else []

    apply_batch_mor(orch, spark.createDataFrame(B2, EV), 1)
    assert leftover() == []
    assert apply_batch_mor(orch, spark.createDataFrame(B2, EV), 1).get("skipped")
    assert leftover() == []

    other = CdcOrchestrator(LakeTable.load(spark, table.path), buckets_per_group=4)
    _inject_competing_commit(
        table, lambda: apply_batch_mor(other, spark.createDataFrame(B2, EV), 2)
    )
    rec = apply_batch_mor(orch, spark.createDataFrame(B2, EV), 2)
    assert rec == {"batch_id": 2, "skipped": "already-committed"}
    assert leftover() == []
