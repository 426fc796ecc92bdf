"""Data-file timestamp encoding: every parquet file the engine writes
stores its timestamps as INT64 ``TIMESTAMP(MICROS, UTC)`` (Iceberg's
``timestamptz``) with min/max statistics, never legacy INT96; a table
whose older files are INT96 reads exactly like an all-INT64 twin; and
``tools/layout_report.py`` reports the per-column layout from footers."""

import os
import subprocess
import sys

import pyarrow.parquet as pq

from tests.conftest import spark_conf
from tests.test_cdc_end_to_end import make_batches
from tpc_di_spark.cdc import CdcOrchestrator, current_state
from tpc_di_spark.cdc.mor import apply_batch_mor, compact_deltas
from tpc_di_spark.cdc.orchestrator import bootstrap_table
from tpc_di_spark.lake.changelog import rows_closed_in, rows_created_in
from tpc_di_spark.lake.maintenance import compact
from tpc_di_spark.schemas import TRANSCRIPT_SCHEMA
from tools.layout_report import snapshot_families, type_label

TS_COLS = ("ts", "effective_ts", "end_ts")
MICROS_UTC = "INT64 TIMESTAMP(MICROS,UTC)"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _files(t):
    return [os.path.join(t.path, r) for rels in snapshot_families(t).values() for r in rels]


def _ts_encoding(path) -> dict[str, tuple[str, bool]]:
    """Per timestamp column of one file: its encoding and whether every
    row group carries min/max statistics."""
    md = pq.ParquetFile(path).metadata
    out = {}
    for i in range(md.num_columns):
        col = md.schema.column(i)
        if col.name not in TS_COLS:
            continue
        stats = [md.row_group(g).column(i).statistics for g in range(md.num_row_groups)]
        out[col.name] = (type_label(col), all(s is not None and s.has_min_max for s in stats))
    return out


def _assert_all_micros(t):
    files = _files(t.refresh())
    assert files
    for path in files:
        enc = _ts_encoding(path)
        # data files hold all three; delta files hold the events' ts
        want = {"ts"} if "/delta-" in path else set(TS_COLS)
        assert set(enc) == want, path
        assert all(e == (MICROS_UTC, True) for e in enc.values()), (path, enc)


def test_every_write_path_writes_int64_micros(spark, tmp_path):
    batches = make_batches(spark, n_batches=3)
    t = bootstrap_table(spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, num_buckets=4)
    orch = CdcOrchestrator(t)
    orch.apply_batch(batches[0][1], 1)  # historical, insert-only
    _assert_all_micros(t)
    orch.apply_batch(batches[1][1], 2)  # CoW merge
    _assert_all_micros(t)
    apply_batch_mor(orch, batches[2][1], 3)
    _assert_all_micros(t)
    compact_deltas(orch)
    _assert_all_micros(t)
    compact(t.refresh(), max_files_per_bucket=0)
    _assert_all_micros(t)


def _same(a, b):
    assert a.count() == b.count()
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_int96_files_read_like_int64_twin(spark, tmp_path):
    """Files written before the switch keep their INT96 encoding until
    their bucket is rewritten; reads decode each file's own encoding, so
    a table mixing both answers every read exactly like its twin."""
    batches = make_batches(spark, n_batches=4)
    mixed = bootstrap_table(spark, str(tmp_path / "mixed"), TRANSCRIPT_SCHEMA, num_buckets=4)
    twin = bootstrap_table(spark, str(tmp_path / "twin"), TRANSCRIPT_SCHEMA, num_buckets=4)
    om, ot = CdcOrchestrator(mixed), CdcOrchestrator(twin)
    with spark_conf(spark, {"spark.sql.parquet.outputTimestampType": "INT96"}):
        om.apply_batch(batches[0][1], 1)
        om.apply_batch(batches[1][1], 2)
    for bid, df in batches[:2]:
        ot.apply_batch(df, bid)
    old_m, old_t = mixed.refresh().snapshot, twin.refresh().snapshot
    for bid, df in batches[2:]:
        om.apply_batch(df, bid)
        ot.apply_batch(df, bid)
    mixed.refresh(), twin.refresh()

    # INT96 history appended by batch 2 next to INT64 files of batch 4
    snap = mixed.snapshot
    kinds = {
        b: {_ts_encoding(os.path.join(mixed.path, r))["ts"][0].split()[0]
            for r in snap.files.get(b, []) + snap.hist_files.get(b, [])}
        for b in set(snap.files) | set(snap.hist_files)
    }
    assert any(k == {"INT96", "INT64"} for k in kinds.values()), kinds

    _same(current_state(mixed), current_state(twin))
    for bid in (1, 2, 4):
        _same(rows_created_in(mixed, bid), rows_created_in(twin, bid))
        _same(rows_closed_in(mixed, bid), rows_closed_in(twin, bid))
    keys = [dict(conv_id=r.conv_id, turn_idx=r.turn_idx)
            for r in current_state(twin).select("conv_id", "turn_idx").limit(5).collect()]
    _same(mixed.lookup(keys), twin.lookup(keys))
    _same(mixed.read(snapshot=old_m), twin.read(snapshot=old_t))

    for t in (mixed, twin):
        compact(t, max_files_per_bucket=0)
    _same(mixed.refresh().read(), twin.refresh().read())
    _assert_all_micros(mixed)  # compaction rewrote the INT96 history too


def test_layout_report_from_footers(spark, tmp_path):
    batches = make_batches(spark, n_batches=2)
    t = bootstrap_table(spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, num_buckets=2)
    orch = CdcOrchestrator(t)
    for bid, df in batches:
        orch.apply_batch(df, bid)
    first = t.refresh().snapshot.parent_id
    for extra in ([], ["--snapshot", str(first)]):
        out = subprocess.run(
            [sys.executable, os.path.join(REPO, "tools", "layout_report.py"), t.path, *extra],
            capture_output=True, text=True, check=True,
        ).stdout
        rows = {tuple(line.split()[:2]): line for line in out.splitlines()[1:]}
        assert ("current", "ts") in rows and ("current", "(all)") in rows
        for col in TS_COLS:
            assert rows[("current", col)].endswith(MICROS_UTC)
        assert (("history", "end_ts") in rows) == (not extra)  # batch 1 closes nothing
