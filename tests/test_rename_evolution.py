"""Column rename/drop schema evolution (lake/table.py column mapping):
files keep a column's birth (physical) name, renames/drops are pure
metadata commits, reads alias physical->logical, re-added names get a
fresh physical identity so dropped data never resurrects."""

import datetime as dt

import pytest

from tpc_di_spark.cdc import CdcOrchestrator, current_state
from tpc_di_spark.cdc.generator import historical_batch, incremental_batch
from tpc_di_spark.cdc.orchestrator import bootstrap_table
from tpc_di_spark.lake.changelog import rows_created_in
from tpc_di_spark.lake.maintenance import compact, rebucket
from tpc_di_spark.schemas import TRANSCRIPT_SCHEMA, TRANSCRIPT_SCHEMA_EVOLVED


def _events(spark, batch_id, rows):
    return spark.createDataFrame(
        rows,
        "cdc_flag string, cdc_dsn long, conv_id string, turn_idx int, "
        "role string, text string, ts timestamp",
    )


def test_rename_is_metadata_only_and_reads_both_eras(spark, tmp_path):
    table = bootstrap_table(spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, num_buckets=8)
    orch = CdcOrchestrator(table)
    orch.apply_batch(historical_batch(spark, 20, 3), 1)
    files_before = {b: list(v) for b, v in table.snapshot.files.items()}
    pre_rename_snap = table.snapshot.snapshot_id

    table.rename_column("text", "content")
    # Metadata-only: no data file changed hands.
    assert table.snapshot.files == files_before
    assert "content" in table.schema.fieldNames()
    assert "text" not in table.schema.fieldNames()

    # Old-era files read under the new logical name with their values.
    live = current_state(table)
    assert live.filter("content is null").count() == 0
    old_val = {
        (r.conv_id, r.turn_idx): r.content for r in live.collect()
    }

    # New-era writes go through the mapping (files store the birth name).
    t0 = dt.datetime(2024, 6, 1)
    ev = _events(spark, 2, [("U", 1, "conv-000002", 1, "user", "renamed-era", t0)])
    orch.apply_batch(ev.withColumnRenamed("text", "content"), 2)
    live2 = {(r.conv_id, r.turn_idx): r.content for r in current_state(table).collect()}
    assert live2[("conv-000002", 1)] == "renamed-era"
    assert live2[("conv-000001", 0)] == old_val[("conv-000001", 0)]

    # Physical birth name on disk, logical name in the API.
    phys = {f.name for f in table.physical_schema().fields}
    assert "text" in phys and "content" not in phys

    # Time travel is name-faithful: the pre-rename snapshot reads 'text'.
    old_snap = table.read_snapshot(pre_rename_snap)
    old_df = table.read(snapshot=old_snap, family="current")
    assert "text" in old_df.columns and "content" not in old_df.columns

    # Changelog reads speak the CURRENT logical schema for any batch era.
    created = rows_created_in(table, 1)
    assert "content" in created.columns
    assert created.filter("content is null").count() == 0

    # Compaction rewrites under the same physical layout; reads unchanged.
    compact(table, max_files_per_bucket=1)
    live3 = {(r.conv_id, r.turn_idx): r.content for r in current_state(table.refresh()).collect()}
    assert live3 == live2

    # Renaming BACK to the birth name clears the mapping entirely.
    table.rename_column("content", "text")
    assert table._colmap() == {}
    assert {(r.conv_id, r.turn_idx): r.text for r in current_state(table).collect()} == live2


def test_drop_then_readd_does_not_resurrect(spark, tmp_path):
    table = bootstrap_table(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, num_buckets=4
    )
    orch = CdcOrchestrator(table)
    orch.apply_batch(historical_batch(spark, 10, 2), 1)
    # Evolution adds 'tool'; batch 2 fills it for one key.
    table.evolve_schema(TRANSCRIPT_SCHEMA_EVOLVED)
    t0 = dt.datetime(2024, 6, 1)
    ev = spark.createDataFrame(
        [("U", 1, "conv-000001", 0, "tool", "call", "calculator", t0)],
        "cdc_flag string, cdc_dsn long, conv_id string, turn_idx int, "
        "role string, text string, tool string, ts timestamp",
    )
    orch.apply_batch(ev, 2)
    assert (
        current_state(table).filter("tool = 'calculator'").count() == 1
    )

    table.drop_column("tool")
    assert "tool" not in table.schema.fieldNames()
    assert current_state(table).columns.count("tool") == 0

    # Re-add the same logical name: fresh physical identity, NO
    # resurrection of the old bytes.
    table.evolve_schema(TRANSCRIPT_SCHEMA_EVOLVED)
    assert "tool" in table.schema.fieldNames()
    assert current_state(table).filter("tool is not null").count() == 0
    assert table._colmap()["tool"].startswith("tool__r")

    # The fresh column is fully writable.
    ev2 = spark.createDataFrame(
        [("U", 2, "conv-000001", 1, "tool", "call2", "browser", t0)],
        "cdc_flag string, cdc_dsn long, conv_id string, turn_idx int, "
        "role string, text string, tool string, ts timestamp",
    )
    orch.apply_batch(ev2, 3)
    vals = {
        (r.conv_id, r.turn_idx): r.tool
        for r in current_state(table).filter("tool is not null").collect()
    }
    assert vals == {("conv-000001", 1): "browser"}


def test_rename_guards(spark, tmp_path):
    table = bootstrap_table(spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, num_buckets=4)
    orch = CdcOrchestrator(table)
    orch.apply_batch(historical_batch(spark, 5, 2), 1)

    with pytest.raises(ValueError, match="bucket/key"):
        table.rename_column("conv_id", "conversation_id")
    with pytest.raises(ValueError, match="lineage"):
        table.rename_column("is_current", "live")
    with pytest.raises(ValueError, match="already exists"):
        table.rename_column("text", "role")
    with pytest.raises(ValueError, match="no such column"):
        table.drop_column("nope")
    with pytest.raises(ValueError, match="bucket/key"):
        table.drop_column("turn_idx")

    # Pending MoR deltas block renames (delta files carry logical names).
    from tpc_di_spark.cdc.mor import apply_batch_mor

    apply_batch_mor(
        orch,
        _events(spark, 2, [("U", 1, "conv-000001", 0, "user", "x",
                            dt.datetime(2024, 6, 1))]),
        2,
    )
    with pytest.raises(ValueError, match="delta batches"):
        table.rename_column("text", "content")

    from tpc_di_spark.cdc.mor import compact_deltas

    compact_deltas(orch)
    table.rename_column("text", "content")  # now fine
    assert "content" in table.schema.fieldNames()


def test_merge_stays_exchange_free_after_rename(spark, tmp_path):
    """The bucketed-scan merge plan is unaffected by a rename: bucket
    columns pass through the alias Project un-renamed, so the target
    side still reports its HashPartitioning (no Exchange above the
    scan)."""
    table = bootstrap_table(spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, num_buckets=8)
    orch = CdcOrchestrator(table)
    orch.apply_batch(historical_batch(spark, 50, 4), 1)
    table.rename_column("text", "content")

    bt, aligned = table.read_bucketed(family="current")
    assert aligned
    assert "content" in bt.columns
    plan = (
        bt.groupBy("conv_id", "turn_idx").count()._jdf.queryExecution()
        .executedPlan().toString()
    )
    assert "Exchange" not in plan, plan


@pytest.mark.parametrize("maintenance", ["rebucket", "compact"])
def test_rename_survives_maintenance_rewrite(spark, tmp_path, maintenance):
    """Rebucket and compaction rewrite every row they touch through the
    one data-file writer, so the renamed column lands under its birth
    (physical) name: current state, a point lookup, the full lineage and
    a time-travel read of the pre-maintenance snapshot all return its
    values, none NULL."""
    table = bootstrap_table(spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, num_buckets=4)
    orch = CdcOrchestrator(table)
    orch.apply_batch(historical_batch(spark, 10, 2), 1)
    orch.apply_batch(incremental_batch(spark, 2, 12, 10, 2, p_delete=0.0), 2)
    table.rename_column("text", "content")
    pre = table.snapshot.snapshot_id

    def live(snapshot=None):
        df = table.read(snapshot=snapshot, family="current").filter("is_current")
        return {(r.conv_id, r.turn_idx): r.content for r in df.collect()}

    def lineage():
        return sorted(
            (r.conv_id, r.turn_idx, r.batch_id, r.content)
            for r in table.read().collect()
        )

    want, want_lineage = live(), lineage()
    assert len(want) >= 20 and None not in want.values()
    if maintenance == "rebucket":
        assert rebucket(table, 8)["rebucketed"]
    else:
        assert compact(table, max_files_per_bucket=0)["compacted_buckets"] == 4
    table.refresh()

    assert {
        (r.conv_id, r.turn_idx): r.content for r in current_state(table).collect()
    } == want
    assert lineage() == want_lineage
    k = sorted(want)[3]
    got = table.lookup({"conv_id": k[0], "turn_idx": k[1]}).collect()
    assert [r.content for r in got] == [want[k]]
    assert live(table.read_snapshot(pre)) == want
