"""Object-store-semantics proof of the TableFS seam (VERDICT r02 #6).

``ObjectStoreFS`` executes the S3/GCS mapping fs.py documents: NO atomic
rename (the VERSION flip is a conditional PUT / compare-and-swap on the
ETag read at snapshot load), no directories, prefix LISTs. Running the
lake + orchestrator behaviors through it surfaces any hidden POSIX
assumption — if the table format relied on rename atomicity or mkdir
side effects anywhere, these tests would fail.
"""

import datetime as dt
import os

import pytest

from tests.conftest import assert_pdf_equal
from tpc_di_spark.cdc import CdcOrchestrator, current_state
from tpc_di_spark.cdc.generator import historical_batch, incremental_batch
from tpc_di_spark.cdc.orchestrator import bootstrap_table
from tpc_di_spark.lake.fs import CasConflict, ObjectStoreFS
from tpc_di_spark.lake.table import CommitConflict, LakeTable
from tpc_di_spark.schemas import TRANSCRIPT_SCHEMA

SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, ts timestamp"
)


def mkrows(spark, n, text="hello"):
    rows = [
        (f"c{i % 7}", i, "user", text, dt.datetime(2024, 1, 1, 0, 0, i % 60))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, SCHEMA)


def test_create_append_read_roundtrip_on_object_store(spark, tmp_path):
    fs = ObjectStoreFS()
    t = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, num_buckets=4, fs=fs
    )
    t.append(mkrows(spark, 25), batch_id=1)
    assert t.read().count() == 25
    t2 = LakeTable.load(spark, str(tmp_path / "t"), fs=ObjectStoreFS())
    assert t2.read().count() == 25
    assert t2.is_batch_committed(1)


def test_conditional_put_rejects_concurrent_flip(spark, tmp_path):
    """The CAS itself (not just the parent-id pre-check): a writer that
    commits INSIDE another writer's read→PUT window must make the PUT
    fail with If-Match — the race the POSIX rename can't even express."""
    path = str(tmp_path / "t")
    t1 = LakeTable.create(spark, path, TRANSCRIPT_SCHEMA, num_buckets=4, fs=ObjectStoreFS())

    class RacingFS(ObjectStoreFS):
        """Interleaves a competing commit between this handle's VERSION
        read and its conditional PUT."""

        def __init__(self):
            super().__init__()
            self.race_once = False

        def replace_text(self, p, text):
            if self.race_once and p.endswith("VERSION"):
                self.race_once = False
                other = LakeTable.load(spark, path, fs=ObjectStoreFS())
                other.append(mkrows(spark, 3, text="sneaky"))
            super().replace_text(p, text)

    fs2 = RacingFS()
    t2 = LakeTable.load(spark, path, fs=fs2)
    fs2.race_once = True
    with pytest.raises(CommitConflict, match="If-Match"):
        t2.append(mkrows(spark, 5))
    # The sneaky writer's commit is the live one; no data was lost.
    assert LakeTable.load(spark, path, fs=ObjectStoreFS()).read().count() == 3


def test_stale_handle_conflict_on_object_store(spark, tmp_path):
    path = str(tmp_path / "t")
    t1 = LakeTable.create(spark, path, TRANSCRIPT_SCHEMA, num_buckets=4, fs=ObjectStoreFS())
    t2 = LakeTable.load(spark, path, fs=ObjectStoreFS())
    t1.append(mkrows(spark, 5))
    with pytest.raises(CommitConflict):
        t2.append(mkrows(spark, 5))


def test_cdc_crash_resume_on_object_store(spark, tmp_path):
    """The orchestrator's kill-and-resume contract holds without atomic
    rename: checkpoint manifests, sealed groups, and the exactly-once
    batch guard all ride the conditional-PUT commit point."""
    hist = historical_batch(spark, 20, 6)
    incr = incremental_batch(spark, 2, 300, 20, 6, skew=2.0)

    t_ref = bootstrap_table(
        spark, str(tmp_path / "ref"), TRANSCRIPT_SCHEMA, num_buckets=8, fs=ObjectStoreFS()
    )
    o_ref = CdcOrchestrator(t_ref, buckets_per_group=2)
    o_ref.apply_batch(hist, 1)
    o_ref.apply_batch(incr, 2)

    t_crash = bootstrap_table(
        spark, str(tmp_path / "crash"), TRANSCRIPT_SCHEMA, num_buckets=8, fs=ObjectStoreFS()
    )
    o_crash = CdcOrchestrator(t_crash, buckets_per_group=2)
    o_crash.apply_batch(hist, 1)

    calls = {"n": 0}
    orig = t_crash.write_data_files

    def flaky(df, tag, **kw):
        calls["n"] += 1
        if calls["n"] == 3:
            raise RuntimeError("simulated kill")
        return orig(df, tag, **kw)

    t_crash.write_data_files = flaky
    with pytest.raises(RuntimeError, match="simulated kill"):
        o_crash.apply_batch(incr, 2)
    t_crash.write_data_files = orig
    assert not t_crash.refresh().is_batch_committed(2)

    rec = o_crash.apply_batch(incr, 2)
    assert any(g.get("resumed") for g in rec["groups"]), "checkpointed groups reused"
    assert_pdf_equal(
        current_state(t_crash).toPandas(),
        current_state(t_ref).toPandas(),
        ["conv_id", "turn_idx"],
    )


def test_maintenance_on_object_store_and_min_age_guard(spark, tmp_path):
    """compact + expire through ObjectStoreFS; expire's min-age rule must
    skip young orphans (a possibly-in-flight writer's files) and delete
    old ones."""
    from tpc_di_spark.lake.maintenance import compact, expire_snapshots

    fs = ObjectStoreFS()
    t = LakeTable.create(spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, num_buckets=2, fs=fs)
    for g in range(3):
        t.append(mkrows(spark, 10, text=f"gen{g}"))
    compact(t, max_files_per_bucket=1)

    # Young orphans are skipped under a min age...
    stats = expire_snapshots(t, keep_last=1, min_age_seconds=3600)
    assert stats["removed_files"] == 0 and stats["skipped_young_files"] > 0
    # ...and deleted once old enough (backdate mtimes to simulate age).
    for fpath in fs.walk_files(os.path.join(t.path, "data")):
        os.utime(fpath, (0, 0))
    stats2 = expire_snapshots(t, keep_last=1, min_age_seconds=3600)
    assert stats2["removed_files"] > 0 and stats2["skipped_young_files"] == 0
    assert t.read().count() == 30


def test_cas_conflict_type():
    fs = ObjectStoreFS()
    with pytest.raises(CasConflict):
        # create-only PUT on a path never read, but that exists
        import tempfile

        with tempfile.NamedTemporaryFile("w", suffix=".txt", delete=False) as f:
            f.write("occupied")
            p = f.name
        try:
            fs.replace_text(p, "clobber")
        finally:
            os.remove(p)
