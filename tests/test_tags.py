"""Snapshot tags (lake/tags.py): immutable named refs that pin history
through expire_snapshots — the audit-pin retention rule."""

import pytest

from tpc_di_spark.lake import LakeTable
from tpc_di_spark.lake.fs import CasConflict
from tpc_di_spark.lake.maintenance import expire_snapshots
from tpc_di_spark.lake.tags import (
    create_tag,
    delete_tag,
    list_tags,
    read_tag,
    snapshot_of_tag,
)

from tests.test_lake import SCHEMA, mkrows


def test_tag_create_read_list_delete(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, num_buckets=4)
    t.append(mkrows(spark, 30))
    ref = create_tag(t, "audit-q1")
    assert ref["snapshot_id"] == t.snapshot.snapshot_id
    t.append(mkrows(spark, 20, text="later"))
    # tag still resolves the OLD state by name
    assert t.read(snapshot=snapshot_of_tag(t, "audit-q1")).count() == 30
    assert list(list_tags(t)) == ["audit-q1"]
    # immutable: re-creating the same name is a structural conflict
    with pytest.raises(CasConflict):
        create_tag(t, "audit-q1")
    # invalid names and dangling targets are refused
    with pytest.raises(ValueError):
        create_tag(t, "bad/name")
    with pytest.raises(ValueError):
        create_tag(t, "dangling", snapshot_id=999)
    delete_tag(t, "audit-q1")
    assert list_tags(t) == {}


def test_tagged_snapshot_survives_expiry(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, num_buckets=4)
    t.append(mkrows(spark, 30))
    pinned = t.snapshot.snapshot_id
    create_tag(t, "pin", snapshot_id=pinned)
    for i in range(4):
        # full rewrite: without the tag, the pinned snapshot's files
        # would be orphans after expiry
        files, _ = t.write_data_files(
            t.with_bucket(mkrows(spark, 10, text=f"v{i}")), f"rw-{i}"
        )
        t.commit(
            files,
            mode="replace",
            replaced_buckets=list(range(4)),
            summary={"operation": "test-rewrite"},
        )
    rec = expire_snapshots(t, keep_last=1)
    assert rec["removed_snapshots"] > 0
    # the pinned snapshot and its data files are intact and readable
    assert t.read(snapshot=snapshot_of_tag(t, "pin")).count() == 30
    # untag → the next expiry may reclaim it
    delete_tag(t, "pin")
    expire_snapshots(t, keep_last=1)
    with pytest.raises((FileNotFoundError, OSError)):
        t.read_snapshot(pinned)


def test_table_stats_surface(spark, tmp_path):
    from tpc_di_spark.lake.maintenance import table_stats

    t = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, num_buckets=4,
        properties={"index.bloom.column": "conv_id"},
    )
    t.append(mkrows(spark, 40), batch_id=1)
    create_tag(t, "pin")
    s = table_stats(t)
    assert s["num_buckets"] == 4 and s["columns"] == len(SCHEMA.fields)
    assert s["committed_batches"] == 1
    assert s["current_files"] > 0 and s["hist_files"] == 0
    assert s["files_per_bucket"]["max"] >= s["files_per_bucket"]["min"] > 0
    assert s["bloom_indexed_column"] == "conv_id" and s["bloom_sidecars"] >= 1
    assert s["tags"] == ["pin"] and s["branches"] == []
    assert s["pending_mor_deltas"] == []
    assert s["snapshots_on_disk"] >= 2


def _view(spark, table, path):
    """An IncrementalView and its total live row count."""
    from tpc_di_spark.lake.incremental_view import IncrementalView

    view = IncrementalView(table, path, ["role"], [("count_live", None, "live_turns")])
    return view, lambda: sum(r["live_turns"] for r in view.state().collect())


def _derived(spark, table, path):
    """An identity DerivedTableSync and its child's live row count."""
    from tpc_di_spark.cdc import current_state
    from tpc_di_spark.cdc.orchestrator import bootstrap_table
    from tpc_di_spark.lake.derived import DerivedTableSync
    from tpc_di_spark.schemas import TRANSCRIPT_SCHEMA

    child = bootstrap_table(spark, path + "-child", TRANSCRIPT_SCHEMA, num_buckets=4)
    sync = DerivedTableSync(table, child, path)
    return sync, lambda: current_state(child.refresh()).count()


def _rows(spark, *rows):
    return spark.createDataFrame(
        list(rows),
        "cdc_flag string, cdc_dsn long, conv_id string, turn_idx int, "
        "role string, text string, ts timestamp",
    )


@pytest.mark.parametrize("make_consumer", [_view, _derived], ids=["view", "derived"])
def test_rollback_to_restores_state_and_batch_ids(spark, tmp_path, make_consumer):
    """Rollback reproduces the old state atomically; rolled-back batch
    ids can re-apply (corrected data); every changelog consumer whose
    state includes rolled-back effects refuses with a rebuild
    instruction."""
    import datetime as dt

    from tpc_di_spark.cdc import CdcOrchestrator, current_state
    from tpc_di_spark.cdc.generator import historical_batch
    from tpc_di_spark.cdc.orchestrator import bootstrap_table
    from tpc_di_spark.schemas import TRANSCRIPT_SCHEMA

    table = bootstrap_table(spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, num_buckets=4)
    orch = CdcOrchestrator(table)
    orch.apply_batch(historical_batch(spark, 20, 4), 1)
    good_sid = table.snapshot.snapshot_id
    n_good = current_state(table).count()

    bad = _rows(spark, ("U", 5_000, "conv-000001", 1, "user", "POISONED", dt.datetime(2024, 2, 1)))
    orch.apply_batch(bad, 2)
    assert current_state(table).filter("text = 'POISONED'").count() == 1

    view, _ = make_consumer(spark, table, str(tmp_path / "v"))
    view.refresh()  # consumed {1, 2}

    snap = table.rollback_to(good_sid)
    assert snap.summary["operation"] == "rollback"
    assert current_state(table).count() == n_good
    assert current_state(table).filter("text = 'POISONED'").count() == 0
    assert not table.is_batch_committed(2)  # the id is free again

    # consumer holds batch-2 effects -> must refuse, not diverge
    import pytest as _pytest

    with _pytest.raises(ValueError, match="rolled back"):
        view.refresh()

    # corrected batch re-applies under the original id
    fixed = _rows(spark, ("U", 5_001, "conv-000001", 1, "user", "fixed", dt.datetime(2024, 2, 2)))
    orch.apply_batch(fixed, 2)
    assert current_state(table).filter("text = 'fixed'").count() == 1

    # ADVICE r06: a consumer that folded the POISONED batch 2 and
    # refreshes only AFTER the re-apply sees consumed ⊆ committed again;
    # the rollback-invalidation log must still make it refuse (skipping
    # batch 2 as already-consumed would silently keep poisoned effects).
    with _pytest.raises(ValueError, match="re-applied|rolled back"):
        view.refresh()

    # A FRESH consumer built after the re-apply folds the corrected
    # lineage and is not haunted by the old invalidation.
    view2, live_rows = make_consumer(spark, table, str(tmp_path / "v2"))
    view2.refresh()
    assert live_rows() == current_state(table).count()
    view2.refresh()  # idempotent no-op with the recorded epoch


@pytest.mark.parametrize("make_consumer", [_view, _derived], ids=["view", "derived"])
def test_undone_rollback_keeps_invalidation_log(spark, tmp_path, make_consumer):
    """Undoing a rollback removes no batch id, but must still carry the
    rollback-invalidation log forward: resetting it to the target's
    (empty) log hid the NEXT rollback from a consumer whose checkpoint
    had already seen one entry, and the consumer then silently kept a
    batch that a corrected re-apply had replaced."""
    import datetime as dt

    from tpc_di_spark.cdc import CdcOrchestrator
    from tpc_di_spark.cdc.orchestrator import bootstrap_table
    from tpc_di_spark.schemas import TRANSCRIPT_SCHEMA

    table = bootstrap_table(spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, num_buckets=4)
    orch = CdcOrchestrator(table)
    s0 = table.snapshot.snapshot_id
    orch.apply_batch(_rows(spark, ("I", 1, "c1", 0, "user", "v1", dt.datetime(2024, 1, 1))), 1)
    s1 = table.snapshot.snapshot_id
    orch.apply_batch(_rows(spark, ("I", 2, "c2", 0, "assistant", "v2", dt.datetime(2024, 1, 2))), 2)
    s2 = table.snapshot.snapshot_id

    table.rollback_to(s1)
    consumer, _ = make_consumer(spark, table, str(tmp_path / "c"))
    consumer.refresh()  # consumed {1}, rollback epoch 1
    table.rollback_to(s2)  # undo: removes nothing
    assert len(table.snapshot.properties["rollback.invalidations"]) == 1
    table.rollback_to(s0)  # removes the consumed batch 1
    orch.apply_batch(
        _rows(spark, ("I", 3, "c1", 0, "assistant", "fixed", dt.datetime(2024, 1, 3))), 1
    )
    with pytest.raises(ValueError, match="rolled back"):
        consumer.refresh()
    with pytest.raises(ValueError, match="engine-maintained"):
        table.set_properties({"rollback.invalidations": None})
