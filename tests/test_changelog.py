"""Incremental changelog reads (lake/changelog.py): created/closed
versions per batch, file-level data skipping via batch_id footer stats."""

import datetime as dt

import pyspark.sql.functions as F

from tpc_di_spark.cdc import CdcOrchestrator
from tpc_di_spark.cdc.orchestrator import bootstrap_table
from tpc_di_spark.lake.changelog import (
    changed_keys_since,
    files_for_batch,
    hist_files_of_commit_tag,
    rows_closed_in,
    rows_created_in,
)
from tpc_di_spark.schemas import TRANSCRIPT_SCHEMA

EV = "cdc_flag string, cdc_dsn long, conv_id string, turn_idx int, role string, text string, ts timestamp"


def _batch(spark, rows):
    return spark.createDataFrame(rows, EV)


def _replayed(spark, tmp_path):
    t0 = dt.datetime(2024, 1, 1)
    table = bootstrap_table(spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, num_buckets=4)
    orch = CdcOrchestrator(table, buckets_per_group=4)
    # batch 1: keys (a,0) (a,1) (b,0)
    orch.apply_batch(
        _batch(spark, [
            ("I", 1, "a", 0, "user", "a0v1", t0),
            ("I", 2, "a", 1, "user", "a1v1", t0),
            ("I", 3, "b", 0, "user", "b0v1", t0),
        ]),
        1,
    )
    # batch 2: update (a,0) -> closes a0v1; insert (c,0)
    orch.apply_batch(
        _batch(spark, [
            ("U", 4, "a", 0, "user", "a0v2", t0 + dt.timedelta(hours=1)),
            ("I", 5, "c", 0, "user", "c0v1", t0 + dt.timedelta(hours=1)),
        ]),
        2,
    )
    # batch 3: delete (a,1) -> closes a1v1; update (a,0) -> closes a0v2
    orch.apply_batch(
        _batch(spark, [
            ("D", 6, "a", 1, None, None, t0 + dt.timedelta(hours=2)),
            ("U", 7, "a", 0, "user", "a0v3", t0 + dt.timedelta(hours=2)),
        ]),
        3,
    )
    return table


def test_rows_created_and_closed_per_batch(spark, tmp_path):
    table = _replayed(spark, tmp_path)

    created2 = {
        (r.conv_id, r.turn_idx): r for r in rows_created_in(table, 2).collect()
    }
    assert set(created2) == {("a", 0), ("c", 0)}
    # the (a,0) version created in batch 2 was later closed by batch 3 —
    # the changelog still returns it (it IS the batch-2 image), not the
    # batch-3 replacement.
    assert created2[("a", 0)].text == "a0v2"
    assert created2[("a", 0)].is_current is False
    assert created2[("c", 0)].text == "c0v1" and created2[("c", 0)].is_current

    closed3 = {(r.conv_id, r.turn_idx): r for r in rows_closed_in(table, 3).collect()}
    assert set(closed3) == {("a", 1), ("a", 0)}
    assert closed3[("a", 0)].text == "a0v2", "before-image of the batch-3 update"
    assert closed3[("a", 1)].text == "a1v1", "before-image of the delete"
    assert all(not r.is_current for r in closed3.values())

    # nothing was closed by batch 1 (pure inserts)
    assert rows_closed_in(table, 1).count() == 0


def test_file_skipping_uses_batchid_stats(spark, tmp_path):
    table = _replayed(spark, tmp_path)
    snap = table.snapshot
    total = sum(len(fl) for fl in snap.files.values()) + sum(
        len(fl) for fl in snap.hist_files.values()
    )
    assert snap.file_stats, "orchestrator must record batch_id ranges"
    cand1 = files_for_batch(table, 1)
    assert len(cand1) < total, (
        "stats must prune files that cannot contain batch-1 rows "
        f"({len(cand1)} of {total} scanned)"
    )
    # batch-1 rows surviving until now: none are current (a0, a1 replaced/
    # deleted; b0 survives) — b0's batch-1 version lives in the current
    # family; the closed ones in history files of batches 2/3.
    created1 = rows_created_in(table, 1)
    assert created1.count() == 3
    # hist files appended by batch 3's commit are exactly its closures
    rels3 = hist_files_of_commit_tag(table, 3)
    assert rels3 and all("batch-000003" in r for r in rels3)


def test_changed_keys_since_checkpoint(spark, tmp_path):
    table = _replayed(spark, tmp_path)
    keys = {
        (r.conv_id, r.turn_idx)
        for r in changed_keys_since(table, after_batch_id=1).collect()
    }
    assert keys == {("a", 0), ("a", 1), ("c", 0)}, (
        "keys touched by batches 2 and 3 only (b,0 is untouched since 1)"
    )
    assert changed_keys_since(table, after_batch_id=3).count() == 0


def test_rows_closed_in_survives_compaction(spark, tmp_path):
    """After a compaction rewrites the history family, the closed-in-B
    read falls back to the committing snapshot (time travel) — same
    result until that snapshot is expired."""
    from tpc_di_spark.lake.maintenance import compact

    table = _replayed(spark, tmp_path)
    before = {
        (r.conv_id, r.turn_idx): r.text for r in rows_closed_in(table, 3).collect()
    }
    stats = compact(table, max_files_per_bucket=0)  # force-rewrite everything
    assert stats["compacted_buckets"] > 0
    # current snapshot no longer carries batch-3-tagged hist files...
    assert not hist_files_of_commit_tag(table, 3)
    # ...but the changelog read still answers via the committing snapshot.
    after = {
        (r.conv_id, r.turn_idx): r.text for r in rows_closed_in(table, 3).collect()
    }
    assert after == before == {("a", 0): "a0v2", ("a", 1): "a1v1"}


def test_steady_state_close_reads_skip_history(spark, tmp_path, monkeypatch):
    """With no rewrite-tagged history file, every closing tag is intact:
    the close set is read from the current snapshot alone, without a
    ``history()`` walk (the per-refresh metadata cost of a consumer)."""
    from tpc_di_spark.lake.table import LakeTable

    table = _replayed(spark, tmp_path)
    walks = []
    monkeypatch.setattr(LakeTable, "history", lambda self: walks.append(1) or [])
    closed = {(r.conv_id, r.turn_idx) for r in rows_closed_in(table, [2, 3]).collect()}
    assert closed == {("a", 0), ("a", 1)}
    assert changed_keys_since(table, after_batch_id=1).count() == 3
    assert not walks


def test_range_reads_equal_per_batch_union(spark, tmp_path):
    """rows_created_since / rows_closed_since (one-scan range forms) must
    equal the union of the per-batch reads over the same range."""
    from tpc_di_spark.lake.changelog import rows_closed_since, rows_created_since

    table = _replayed(spark, tmp_path)
    key = lambda r: (r.conv_id, r.turn_idx, r.text, r.batch_id)
    created_range = {key(r) for r in rows_created_since(table, 1).collect()}
    created_union = {
        key(r)
        for b in (2, 3)
        for r in rows_created_in(table, b).collect()
    }
    assert created_range == created_union and created_range

    closed_range = {key(r) for r in rows_closed_since(table, 1).collect()}
    closed_union = {
        key(r) for b in (2, 3) for r in rows_closed_in(table, b).collect()
    }
    assert closed_range == closed_union and closed_range


def test_changed_keys_since_is_exact_after_compaction(spark, tmp_path):
    """Retention guard: compaction rewrites history files under a tag
    with no closing-batch id; a checkpoint that predates the compaction
    must still see delete-only touches — and only the keys truly
    touched, read from the committing snapshots."""
    from tpc_di_spark.lake.maintenance import compact

    table = _replayed(spark, tmp_path)
    exact = {
        (r.conv_id, r.turn_idx)
        for r in changed_keys_since(table, after_batch_id=2).collect()
    }
    # truly touched after batch 2: (a,0) updated, (a,1) deleted
    assert exact == {("a", 0), ("a", 1)}

    compact(table, max_files_per_bucket=0)  # erases batch-3 hist tags
    after = {
        (r.conv_id, r.turn_idx)
        for r in changed_keys_since(table, after_batch_id=2).collect()
    }
    # (a,1)'s delete left no created-row trace (its version carries
    # batch_id=1) — only the closed side can find it.
    assert exact == after, "compaction changed the touched-key set"


def test_changelog_consistent_after_resume(spark, tmp_path):
    """file_stats survive the checkpoint-manifest resume path: a batch
    killed after its write and re-applied must still record stats."""
    import pytest

    t0 = dt.datetime(2024, 1, 1)
    table = bootstrap_table(spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, num_buckets=4)
    orch = CdcOrchestrator(table, buckets_per_group=4)
    orch.apply_batch(_batch(spark, [("I", 1, "a", 0, "user", "v1", t0)]), 1)

    ev2 = _batch(spark, [("U", 2, "a", 0, "user", "v2", t0 + dt.timedelta(hours=1))])
    orig_commit = table.commit

    def failing_commit(*a, **kw):
        raise RuntimeError("kill before commit")

    table.commit = failing_commit
    with pytest.raises(RuntimeError, match="kill before commit"):
        orch.apply_batch(ev2, 2)
    table.commit = orig_commit

    orch.apply_batch(ev2, 2)  # resumes from the sealed manifest
    assert any("batch-000002" in rel for rel in table.snapshot.file_stats), (
        "stats recorded for resumed batch files"
    )
    closed2 = rows_closed_in(table, 2).collect()
    assert len(closed2) == 1 and closed2[0].text == "v1"


def test_every_write_path_records_batch_stats(spark, tmp_path):
    """Every writer passes its files' batch_id ranges to the commit: after
    a CoW apply, an append, a compaction and a rebucket every current and
    history file carries a ``file_stats`` entry, so a changelog read
    after a rewrite still selects only the files whose range holds the
    batch instead of every file without stats."""
    from tpc_di_spark.lake.maintenance import compact, rebucket

    table = _replayed(spark, tmp_path)  # three CoW batches

    def all_files():
        s = table.snapshot
        return [rel for fmap in (s.files, s.hist_files) for fl in fmap.values() for rel in fl]

    def check_batch_4():
        s = table.snapshot
        assert [rel for rel in all_files() if rel not in s.file_stats] == []
        hist = {rel for fl in s.hist_files.values() for rel in fl}
        sel = files_for_batch(table, 4)
        assert sel and set(sel) == {
            rel for rel in all_files() if s.file_stats[rel][0] <= 4 <= s.file_stats[rel][1]
        }
        assert hist and not hist & set(sel), "closed versions of batches 1-3 skipped"
        assert sorted(r.conv_id for r in rows_created_in(table, 4).collect()) == ["d", "e"]

    assert all(rel in table.snapshot.file_stats for rel in all_files())
    ts = dt.datetime(2024, 1, 2)
    end = dt.datetime(9999, 12, 31)
    table.append(
        spark.createDataFrame(
            [(k, 0, "user", f"{k}0v1", ts, True, ts, end, 4) for k in ("d", "e")],
            table.schema,
        ),
        batch_id=4,
    )
    check_batch_4()
    compact(table, max_files_per_bucket=1)
    check_batch_4()
    rebucket(table, 8)
    check_batch_4()
