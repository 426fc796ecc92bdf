"""Write-Audit-Publish lifecycle: staged batches are invisible to main
readers until an audited one-CAS fast-forward publish; a failed audit
aborts for the cost of a ref delete; staging crash-resumes; expiry
never reclaims a live branch's fork or files."""

import pyspark.sql.functions as F
import pytest

from tpc_di_spark.cdc import CdcOrchestrator, current_state
from tpc_di_spark.cdc.generator import historical_batch, incremental_batch
from tpc_di_spark.cdc.orchestrator import bootstrap_table
from tpc_di_spark.lake.fs import ObjectStoreFS
from tpc_di_spark.lake.maintenance import expire_snapshots
from tpc_di_spark.lake.table import CommitConflict, LakeTable
from tpc_di_spark.lake.wap import (
    AuditFailed,
    WapBranch,
    list_branches,
    not_null,
    row_count_delta,
    unique_business_key,
)
from tpc_di_spark.schemas import TRANSCRIPT_SCHEMA


def _bootstrap(spark, path, convs=40, turns=5, fs=None):
    table = bootstrap_table(spark, path, TRANSCRIPT_SCHEMA, num_buckets=8, fs=fs)
    CdcOrchestrator(table).apply_batch(historical_batch(spark, convs, turns), 1)
    return table


def _live(table):
    return {(r.conv_id, r.turn_idx): r.text for r in current_state(table).collect()}


def test_stage_audit_publish_roundtrip(spark, tmp_path):
    table = _bootstrap(spark, str(tmp_path / "t"))
    before = _live(table)
    main_reader = LakeTable.load(spark, table.path)

    wap = WapBranch.begin(table, "b2")
    CdcOrchestrator(wap.staged).apply_batch(
        incremental_batch(spark, 2, n_events=30, n_convs=40, turns_per_conv=5), 2
    )
    # Staged work is invisible to main until publish.
    assert _live(main_reader.refresh()) == before
    assert table.snapshot.snapshot_id == main_reader.snapshot.snapshot_id

    results = wap.audit(
        [unique_business_key(), not_null(["conv_id", "ts"]), row_count_delta(max_delta=30)]
    )
    assert all(r["ok"] for r in results)

    staged_live = _live(wap.staged)
    wap.publish()
    assert list_branches(table) == {}
    # One pointer flip and every reader sees exactly the audited state.
    assert _live(main_reader.refresh()) == staged_live
    assert _live(table) == staged_live
    assert table.is_batch_committed(2)


def test_failed_audit_aborts_cheaply(spark, tmp_path):
    table = _bootstrap(spark, str(tmp_path / "t"))
    before = _live(table)
    wap = WapBranch.begin(table, "bad")
    # A "broken upstream" batch: claims 500 new rows, delivers 3.
    CdcOrchestrator(wap.staged).apply_batch(
        incremental_batch(spark, 2, n_events=3, n_convs=40, turns_per_conv=5), 2
    )
    with pytest.raises(AuditFailed) as ei:
        wap.audit([row_count_delta(min_delta=500)])
    assert any(not r["ok"] for r in ei.value.results)
    # One staged state that breaks two checks of the same pass: a
    # duplicated live key pair and a NULL-key live row.
    live = wap.staged.read(family="current").filter("is_current")
    wap.staged.append(
        live.orderBy("conv_id", "turn_idx").limit(2).unionByName(
            live.limit(1).withColumn("conv_id", F.lit(None).cast("string"))
        )
    )
    with pytest.raises(AuditFailed) as ei:
        wap.audit([unique_business_key(), not_null(["conv_id", "turn_idx"])])
    assert ei.value.results == [
        {"check": "unique_business_key", "ok": False, "duplicate_keys": 2},
        {"check": "not_null(conv_id,turn_idx)", "ok": False, "null_rows": 1},
    ]
    wap.abort()
    assert list_branches(table) == {}
    assert _live(table.refresh()) == before
    assert not table.is_batch_committed(2)
    # The batch id is free again: main can re-ingest the corrected batch.
    CdcOrchestrator(table).apply_batch(
        incremental_batch(spark, 2, n_events=30, n_convs=40, turns_per_conv=5), 2
    )
    assert table.is_batch_committed(2)


def test_staging_crash_resume_is_exactly_once(spark, tmp_path):
    table = _bootstrap(spark, str(tmp_path / "t"))
    wap = WapBranch.begin(table, "b2")
    CdcOrchestrator(wap.staged).apply_batch(
        incremental_batch(spark, 2, n_events=25, n_convs=40, turns_per_conv=5), 2
    )
    staged_head = wap.staged.snapshot.snapshot_id
    staged_live = _live(wap.staged)

    # "Crash" between stage and publish: a fresh process re-begins the
    # same branch and lands on the staged head; the batch-id guard makes
    # re-applying batch 2 a metadata no-op.
    table2 = LakeTable.load(spark, table.path)
    wap2 = WapBranch.begin(table2, "b2")
    assert wap2.staged.snapshot.snapshot_id == staged_head
    CdcOrchestrator(wap2.staged).apply_batch(
        incremental_batch(spark, 2, n_events=25, n_convs=40, turns_per_conv=5), 2
    )
    assert wap2.staged.snapshot.snapshot_id == staged_head
    wap2.publish()
    assert _live(table2) == staged_live


def test_publish_conflicts_when_main_advances(spark, tmp_path):
    table = _bootstrap(spark, str(tmp_path / "t"))
    wap = WapBranch.begin(table, "b2")
    CdcOrchestrator(wap.staged).apply_batch(
        incremental_batch(spark, 2, n_events=10, n_convs=40, turns_per_conv=5), 2
    )
    # Main moves past the fork point (out-of-band writer).
    CdcOrchestrator(LakeTable.load(spark, table.path)).apply_batch(
        incremental_batch(spark, 3, n_events=5, n_convs=40, turns_per_conv=5), 3
    )
    with pytest.raises(CommitConflict, match="fast-forward"):
        wap.publish()
    # Branch survives the conflict for re-staging.
    assert "b2" in list_branches(table)
    wap.abort()


def test_expiry_protects_live_branch(spark, tmp_path):
    table = _bootstrap(spark, str(tmp_path / "t"))
    orch = CdcOrchestrator(table)
    wap = WapBranch.begin(table, "staged")
    CdcOrchestrator(wap.staged).apply_batch(
        incremental_batch(spark, 2, n_events=20, n_convs=40, turns_per_conv=5), 2
    )
    fork_id = wap.staged._read_ref()["fork_id"]
    # Main advances a few times, then aggressive expiry runs.
    for b in (3, 4, 5):
        orch.apply_batch(
            incremental_batch(spark, b, n_events=10, n_convs=40, turns_per_conv=5), b
        )
    expire_snapshots(table, keep_last=1)
    # Fork snapshot survives (it is the staged chain's parent) and the
    # staged state is still fully readable.
    assert table.fs.exists(
        f"{table.path}/_meta/snap-{fork_id:08d}.json"
    )
    staged_live = _live(wap.staged.refresh())
    assert len(staged_live) > 0
    # Publish now conflicts (main advanced) — abort, then expiry reclaims
    # the orphaned staged metadata.
    with pytest.raises(CommitConflict):
        wap.publish()
    wap.abort()
    expire_snapshots(table, keep_last=1)
    metas = table.fs.listdir(f"{table.path}/_meta")
    assert not any("-wap-" in n for n in metas)


def test_wap_on_object_store_fs(spark, tmp_path):
    """The ref flip rides the same conditional-PUT primitive as VERSION:
    the full cycle works under object-store semantics (no rename)."""
    fs = ObjectStoreFS()
    table = _bootstrap(spark, str(tmp_path / "t"), fs=fs)
    wap = WapBranch.begin(table, "b2")
    CdcOrchestrator(wap.staged).apply_batch(
        incremental_batch(spark, 2, n_events=15, n_convs=40, turns_per_conv=5), 2
    )
    wap.audit([unique_business_key()])
    wap.publish()
    assert table.is_batch_committed(2)
    assert len(_live(table)) > 0


def test_foreign_key_audit_check(spark, tmp_path):
    """FK integrity gates visibility: a batch whose conv_id isn't
    registered in the parent dimension fails the audit and aborts."""
    from tpc_di_spark.cdc.generator import incremental_batch
    from tpc_di_spark.lake.wap import foreign_key

    table = _bootstrap(spark, str(tmp_path / "t"), convs=20, turns=3)
    parent = spark.createDataFrame(
        [(f"conv-{i:06d}",) for i in range(20)], "conv_key string"
    )

    wap = WapBranch.begin(table, "fk-ok")
    CdcOrchestrator(wap.staged).apply_batch(
        incremental_batch(spark, 2, n_events=10, n_convs=20, turns_per_conv=3),
        2,
    )
    res = wap.audit([foreign_key(["conv_id"], parent, ["conv_key"])])
    assert res[0]["ok"] and res[0]["orphan_rows"] == 0
    wap.publish()

    # A batch referencing unregistered conversations is rejected.
    import datetime as dt

    bad = spark.createDataFrame(
        [("I", 1, "conv-999999", 0, "user", "orphan", dt.datetime(2024, 6, 1))],
        "cdc_flag string, cdc_dsn long, conv_id string, turn_idx int, "
        "role string, text string, ts timestamp",
    )
    wap2 = WapBranch.begin(table, "fk-bad")
    CdcOrchestrator(wap2.staged).apply_batch(bad, 3)
    with pytest.raises(AuditFailed) as ei:
        wap2.audit([foreign_key(["conv_id"], parent, ["conv_key"])])
    assert ei.value.results[0]["orphan_rows"] == 1
    wap2.abort()
    assert not table.refresh().is_batch_committed(3)


def test_schema_change_stages_on_branch(spark, tmp_path):
    """Schema evolution is itself stageable: a rename + batch on a
    branch publishes atomically with the data — or aborts leaving the
    old schema untouched (audited schema migrations)."""
    table = _bootstrap(spark, str(tmp_path / "t"), convs=10, turns=2)

    # Abort path: the rename never reaches main.
    wap = WapBranch.begin(table, "mig-try")
    wap.staged.rename_column("text", "content")
    assert "content" in wap.staged.schema.fieldNames()
    wap.abort()
    assert "text" in table.refresh().schema.fieldNames()
    assert "content" not in table.schema.fieldNames()

    # Publish path: rename + a batch written under the new name land in
    # ONE visibility flip.
    wap2 = WapBranch.begin(table, "mig")
    wap2.staged.rename_column("text", "content")
    ev = incremental_batch(
        spark, 2, n_events=8, n_convs=10, turns_per_conv=2
    ).withColumnRenamed("text", "content")
    CdcOrchestrator(wap2.staged).apply_batch(ev, 2)
    wap2.audit([unique_business_key(), not_null(["content"])])
    wap2.publish()
    table.refresh()
    assert "content" in table.schema.fieldNames()
    assert current_state(table).filter("content is null").count() == 0
    assert table.is_batch_committed(2)


def test_concurrent_audit_checks_preserve_order_and_failure(spark, tmp_path):
    """audit() computes its standard checks in one pass and runs custom
    callables after it; the result list must still come back in input
    order, and a failing check among passing ones must still raise
    AuditFailed with every check's result present."""
    import time as _time

    table = _bootstrap(spark, str(tmp_path / "t"), convs=10, turns=2)
    wap = WapBranch.begin(table, "conc")
    CdcOrchestrator(wap.staged).apply_batch(
        incremental_batch(spark, 2, n_events=10, n_convs=10, turns_per_conv=2), 2
    )

    def slow_ok(w):
        _time.sleep(0.4)  # runs after the pass — must still come back FIRST
        return {"check": "slow_ok", "ok": True}

    results = wap.audit([slow_ok, unique_business_key(), not_null(["conv_id"])])
    assert [r["check"] for r in results] == [
        "slow_ok",
        "unique_business_key",
        "not_null(conv_id)",
    ]
    assert all(r["ok"] for r in results)

    with pytest.raises(AuditFailed) as ei:
        wap.audit([slow_ok, row_count_delta(min_delta=10_000), unique_business_key()])
    checks = [r["check"] for r in ei.value.results]
    assert checks == ["slow_ok", "row_count_delta", "unique_business_key"]
    assert [r["ok"] for r in ei.value.results] == [True, False, True]
    wap.abort()


def test_standard_checks_share_one_pass(spark, tmp_path):
    """unique_business_key and not_null fold into one aggregate plan over
    the staged live rows: at most 3 Spark jobs (the per-key exchange, the
    global aggregate's exchange, the collect), not one count per check."""
    table = _bootstrap(spark, str(tmp_path / "t"))
    wap = WapBranch.begin(table, "jobs")
    CdcOrchestrator(wap.staged).apply_batch(
        incremental_batch(spark, 2, n_events=30, n_convs=40, turns_per_conv=5), 2
    )
    sc = spark.sparkContext
    sc.setJobGroup("wap-one-pass", "audit job count")
    try:
        results = wap.audit([unique_business_key(), not_null(table.key_cols)])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert results == [
        {"check": "unique_business_key", "ok": True, "duplicate_keys": 0},
        {"check": "not_null(conv_id,turn_idx)", "ok": True, "null_rows": 0},
    ]
    assert len(sc.statusTracker().getJobIdsForGroup("wap-one-pass")) <= 3
    wap.abort()
