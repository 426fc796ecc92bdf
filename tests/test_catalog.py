"""Multi-table atomic catalog (lake/catalog.py).

A TPC-DI incremental batch spans many tables (the reference runs
`Incremental1/*.py` one script per table, sequentially — report §4.3);
the catalog makes the whole batch visible atomically across tables via
one CAS on a versioned catalog pointer (Nessie-style). These tests
prove: pinned cross-table reads, crash-retry resume, disjoint-table
rebase, same-table conflict, ref-based retention input, and the same
semantics over object-store (no-rename, conditional-PUT) storage.
"""

import json
import os

import pyspark.sql.functions as F
import pytest

from tpc_di_spark.cdc import CdcOrchestrator, current_state
from tpc_di_spark.cdc.generator import historical_batch, incremental_batch
from tpc_di_spark.lake.catalog import (
    Catalog,
    CatalogConflict,
    apply_batch_atomic,
)
from tpc_di_spark.lake.fs import ObjectStoreFS
from tpc_di_spark.schemas import TRANSCRIPT_SCHEMA

N_CONVS = 10
TURNS = 4


def _events(spark, batch_id, with_tool=False):
    if batch_id == 1:
        return historical_batch(spark, N_CONVS, TURNS)
    return incremental_batch(
        spark,
        batch_id=batch_id,
        n_events=80,
        n_convs=N_CONVS,
        turns_per_conv=TURNS,
        with_tool=with_tool,
    )


def _fresh_catalog(spark, tmp_path, fs=None, tables=("dim_a", "dim_b")):
    cat = Catalog.create(spark, str(tmp_path / "cat"), fs=fs)
    orchs = {}
    for name in tables:
        t = cat.create_table(name, TRANSCRIPT_SCHEMA, num_buckets=4)
        orchs[name] = CdcOrchestrator(t, buckets_per_group=4)
    return cat, orchs


def test_create_load_and_pinned_resolution(spark, tmp_path):
    cat, orchs = _fresh_catalog(spark, tmp_path)
    ev = _events(spark, 1)
    # Table A commits NORMALLY (its own VERSION advances) …
    orchs["dim_a"].apply_batch(ev, 1)

    # … but a catalog reader still resolves A at the registered (empty)
    # snapshot: cross-table consistency is pinning, not locking.
    reader = Catalog.load(spark, cat.path)
    pinned = reader.table("dim_a")
    assert current_state(pinned.table, snapshot=pinned.snapshot).count() == 0
    # The writer-side handle sees the advanced table.
    assert current_state(reader.live_table("dim_a")).count() == N_CONVS * TURNS

    # Publish through a transaction: now the reader (after refresh) sees it.
    txn = cat.transaction()
    txn.stage("dim_a", orchs["dim_a"].table)
    txn.commit({"operation": "publish-a"})
    reader.refresh()
    pinned = reader.table("dim_a")
    assert current_state(pinned.table, snapshot=pinned.snapshot).count() == N_CONVS * TURNS


def test_apply_batch_atomic_all_or_nothing_visibility(spark, tmp_path):
    cat, orchs = _fresh_catalog(spark, tmp_path)
    ev = _events(spark, 1)
    work = {n: (o, ev) for n, o in orchs.items()}
    apply_batch_atomic(cat, work, batch_id=1)

    reader = Catalog.load(spark, cat.path)
    counts = {
        n: current_state(
            reader.table(n).table, snapshot=reader.table(n).snapshot
        ).count()
        for n in orchs
    }
    assert counts == {n: N_CONVS * TURNS for n in orchs}
    assert reader.state.summary["batch_id"] == 1


def test_pooled_applies_keep_caller_job_group(spark, tmp_path):
    """apply_batch_atomic overlaps per-table applies on a thread pool;
    every pooled apply must still see the caller's Spark local
    properties (here its job group — the streaming query id the
    orchestrator reads rides the same mechanism)."""
    cat, orchs = _fresh_catalog(spark, tmp_path)
    sc = spark.sparkContext
    seen = []

    def recording(orch):
        inner = orch.apply_batch

        def apply_batch(events, batch_id, **kw):
            seen.append(sc.getLocalProperty("spark.jobGroup.id"))
            return inner(events, batch_id, **kw)

        orch.apply_batch = apply_batch
        return orch

    ev = _events(spark, 1)
    sc.setJobGroup("caller-group", "pooled apply test")
    try:
        apply_batch_atomic(
            cat, {n: (recording(o), ev) for n, o in orchs.items()}, batch_id=1
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(orchs) == 2
    assert seen == ["caller-group"] * len(orchs)


def test_pool_stops_queued_calls_after_first_failure(spark):
    """apply_batch_atomic's applies, and apply_batch_atomic_wap's per-table
    stagings and per-table audits, run through session.spark_map: once
    one call fails, the calls still queued must never start (a failed
    multi-table publish stops applying sibling tables)."""
    import threading
    import time

    from tpc_di_spark.session import spark_map

    ran, lock = [], threading.Lock()

    def call(i):
        with lock:
            ran.append(i)
        if i == 0:
            raise RuntimeError("item 0 failed")
        time.sleep(0.3)
        return i

    with pytest.raises(RuntimeError, match="item 0 failed"):
        spark_map(spark, call, range(6))
    assert 0 in ran
    assert not {4, 5} & set(ran)
    assert spark_map(spark, lambda i: i * i, range(6)) == [0, 1, 4, 9, 16, 25]


def test_crash_between_table_commit_and_catalog_flip_resumes(spark, tmp_path):
    cat, orchs = _fresh_catalog(spark, tmp_path)
    ev1 = _events(spark, 1)
    apply_batch_atomic(cat, {n: (o, ev1) for n, o in orchs.items()}, batch_id=1)

    # Simulate the crash: batch 2 lands on dim_a (its table VERSION
    # advances), then the driver dies before dim_b or the catalog flip.
    ev2 = _events(spark, 2)
    orchs["dim_a"].apply_batch(ev2, 2)
    v_before = Catalog.load(spark, cat.path).state.version

    # Catalog readers are untouched: still the batch-1-consistent pair.
    reader = Catalog.load(spark, cat.path)
    assert reader.state.version == v_before
    a_pinned = reader.table("dim_a")
    assert (
        current_state(a_pinned.table, snapshot=a_pinned.snapshot).count()
        == N_CONVS * TURNS
    )

    # Retry the whole batch: dim_a skips (exactly-once), dim_b applies,
    # one CAS publishes both.
    cat2 = Catalog.load(spark, cat.path)
    orchs2 = {n: CdcOrchestrator(cat2.live_table(n)) for n in orchs}
    recs = apply_batch_atomic(
        cat2, {n: (o, ev2) for n, o in orchs2.items()}, batch_id=2
    )
    assert recs["dim_a"].get("skipped") == "already-committed"
    assert "skipped" not in recs["dim_b"]

    reader.refresh()
    a = reader.table("dim_a")
    b = reader.table("dim_b")
    assert (
        current_state(a.table, snapshot=a.snapshot).count()
        == current_state(b.table, snapshot=b.snapshot).count()
    )


def test_disjoint_table_rebase(spark, tmp_path):
    cat, orchs = _fresh_catalog(spark, tmp_path)
    ev = _events(spark, 1)
    orchs["dim_a"].apply_batch(ev, 1)
    orchs["dim_b"].apply_batch(ev, 1)

    txn_a = cat.transaction()  # opened at the same base version …
    txn_b = Catalog.load(spark, cat.path).transaction()
    txn_a.stage("dim_a", orchs["dim_a"].table)
    txn_b.stage("dim_b", orchs["dim_b"].table)
    st_b = txn_b.commit({"operation": "b"})
    # … txn_a's CAS loses, rebases over the disjoint commit, succeeds.
    st_a = txn_a.commit({"operation": "a"})
    assert st_a.version == st_b.version + 1
    final = Catalog.load(spark, cat.path).state
    assert final.tables["dim_a"]["snapshot_id"] > 0
    assert final.tables["dim_b"]["snapshot_id"] > 0


def test_same_table_concurrent_commit_conflicts(spark, tmp_path):
    cat, orchs = _fresh_catalog(spark, tmp_path, tables=("dim_a",))
    orchs["dim_a"].apply_batch(_events(spark, 1), 1)

    txn_1 = cat.transaction()
    txn_2 = Catalog.load(spark, cat.path).transaction()
    txn_1.stage("dim_a", orchs["dim_a"].table)
    txn_1.commit()

    orchs["dim_a"].apply_batch(_events(spark, 2), 2)
    txn_2.stage("dim_a", orchs["dim_a"].table)
    # txn_2 opened before txn_1's publish and stages the SAME table:
    # that's a lost-update hazard, not a rebase — it must refuse.
    with pytest.raises(CatalogConflict, match="dim_a"):
        txn_2.commit()


def test_idempotent_republish_is_noop(spark, tmp_path):
    cat, orchs = _fresh_catalog(spark, tmp_path, tables=("dim_a",))
    orchs["dim_a"].apply_batch(_events(spark, 1), 1)
    txn = cat.transaction()
    txn.stage("dim_a", orchs["dim_a"].table)
    v1 = txn.commit().version

    # The crashed-retry tail: everything staged already published.
    txn2 = cat.transaction()
    txn2.stage("dim_a", orchs["dim_a"].table)
    assert txn2.commit().version == v1


def test_catalog_time_travel_and_retention_refs(spark, tmp_path):
    cat, orchs = _fresh_catalog(spark, tmp_path, tables=("dim_a",))
    snap_ids = []
    for b in (1, 2, 3):
        apply_batch_atomic(cat, {"dim_a": (orchs["dim_a"], _events(spark, b))}, b)
        snap_ids.append(cat.state.tables["dim_a"]["snapshot_id"])

    # Pinned read at an old catalog version == the table's own time travel.
    old = cat.table("dim_a", version=cat.state.version - 2)
    assert old.snapshot_id == snap_ids[0]
    t = cat.live_table("dim_a")
    want = current_state(t, snapshot=t.read_snapshot(snap_ids[0])).count()
    assert current_state(old.table, snapshot=old.snapshot).count() == want

    # Retention input: every catalog-referenced snapshot, newest-first walk.
    refs = cat.referenced_snapshot_ids("dim_a")
    assert set(snap_ids) <= refs
    assert cat.referenced_snapshot_ids("dim_a", last_n_versions=1) == {snap_ids[-1]}


def test_object_store_backend_race_and_create_only_states(spark, tmp_path):
    """The same semantics over no-rename storage: VERSION flips are
    conditional PUTs, state files are create-only, and a racer that
    publishes our computed version first forces rebase-or-conflict."""
    fs = ObjectStoreFS()
    cat, orchs = _fresh_catalog(spark, tmp_path, fs=fs, tables=("dim_a", "dim_b"))
    ev = _events(spark, 1)
    apply_batch_atomic(cat, {n: (o, ev) for n, o in orchs.items()}, batch_id=1)

    reader = Catalog.load(spark, cat.path, fs=ObjectStoreFS())
    a = reader.table("dim_a")
    assert current_state(a.table, snapshot=a.snapshot).count() == N_CONVS * TURNS

    # Race: a second writer (separate FS handle — fresh ETag view, like a
    # separate process) publishes the next version while txn_1 is open.
    orchs["dim_a"].apply_batch(_events(spark, 2), 2)
    orchs["dim_b"].apply_batch(_events(spark, 2), 2)
    txn_1 = cat.transaction()
    txn_1.stage("dim_a", orchs["dim_a"].table)

    racer = Catalog.load(spark, cat.path, fs=ObjectStoreFS())
    txn_2 = racer.transaction()
    txn_2.stage("dim_b", racer.live_table("dim_b").refresh())
    txn_2.commit({"operation": "racer"})

    # Disjoint tables: txn_1 must survive the lost CAS by rebasing — and
    # must NOT clobber the racer's already-published state file.
    st = txn_1.commit({"operation": "ours"})
    final = Catalog.load(spark, cat.path, fs=ObjectStoreFS()).state
    assert final.version == st.version
    assert final.tables["dim_a"]["snapshot_id"] == orchs["dim_a"].table.snapshot.snapshot_id
    assert final.tables["dim_b"]["snapshot_id"] == orchs["dim_b"].table.snapshot.snapshot_id
    # The racer's state file survived verbatim (immutable once published).
    racer_state = json.loads(
        ObjectStoreFS().read_text(
            os.path.join(cat.path, "_meta", "cat-%012d.json" % (st.version - 1))
        )
    )
    assert racer_state["summary"]["operation"] == "racer"


def test_expire_snapshots_honors_catalog_refs(spark, tmp_path):
    """Table maintenance must not break pinned catalog versions: the
    catalog's referenced_snapshot_ids is the keep-set input to
    expire_snapshots (Iceberg branch-ref retention)."""
    from tpc_di_spark.lake.maintenance import expire_snapshots

    cat, orchs = _fresh_catalog(spark, tmp_path, tables=("dim_a",))
    for b in (1, 2, 3, 4):
        # batch 4 evolves the schema -> an INTERMEDIATE evolve-schema
        # snapshot the catalog never references sits between refs.
        apply_batch_atomic(
            cat, {"dim_a": (orchs["dim_a"], _events(spark, b, with_tool=(b == 4)))}, b
        )

    t = cat.live_table("dim_a")
    pinned_old = cat.table("dim_a", version=cat.state.version - 2)  # batch-2 state
    refs = cat.referenced_snapshot_ids("dim_a")
    res = expire_snapshots(t, keep_last=1, keep_snapshot_ids=refs)
    assert res.get("aborted") is None
    # The unreferenced evolve-schema intermediate IS expired — refs keep
    # exactly the pinned snapshots, not everything.
    assert res["removed_snapshots"] >= 1

    def read_all_pins():
        for v in range(cat.state.version - 3, cat.state.version + 1):
            ct = cat.table("dim_a", version=v)
            current_state(ct.table, snapshot=ct.snapshot).count()

    read_all_pins()

    # SECOND expiry across the parent-chain hole the first one left
    # (history() now truncates at the removed intermediate): refs must
    # still be honored by direct disk probe — this exact sequence once
    # deleted batch-1's files and broke every older pin.
    res2 = expire_snapshots(t, keep_last=1, keep_snapshot_ids=refs)
    assert res2.get("aborted") is None
    assert res2["removed_files"] == 0 and res2["removed_snapshots"] == 0
    read_all_pins()

    # Drop the refs: the old pins become expirable (guard that the
    # keep-set was load-bearing, not vacuous).
    res3 = expire_snapshots(t, keep_last=1)
    assert res3["removed_snapshots"] >= 2
    assert pinned_old.snapshot_id not in {
        h["snapshot_id"] for h in t.history()
    }


def test_multi_table_streaming_tail_atomic_publish(spark, tmp_path):
    """streaming/stream_apply.start_cdc_multi_stream: each micro-batch
    fans out to N tables and ONE catalog CAS publishes the trigger.
    Simulates the crash-after-partial-apply: one table already committed
    the epoch's batch id (stream died before the flip) — the re-delivered
    trigger skips it, applies the rest, and publishes atomically."""
    import datetime as dt

    from tpc_di_spark.schemas import CHANGE_EVENT_SCHEMA
    from tpc_di_spark.streaming.stream_apply import (
        start_cdc_multi_stream,
        stream_events,
    )

    src = tmp_path / "src"
    src.mkdir()
    t0 = dt.datetime(2024, 1, 1)
    f1 = spark.createDataFrame(
        [
            ("I", 1, "c1", 0, "user", "hello", t0),
            ("I", 2, "c1", 1, "assistant", "hi", t0),
            ("I", 3, "c2", 2, "user", "yo", t0),
        ],
        CHANGE_EVENT_SCHEMA,
    )
    f1.write.parquet(str(src / "f1"))

    cat = Catalog.create(spark, str(tmp_path / "cat"))
    orchs = {
        name: CdcOrchestrator(cat.create_table(name, TRANSCRIPT_SCHEMA, num_buckets=4))
        for name in ("even", "odd")
    }
    routes = {
        "even": (orchs["even"], lambda df: df.filter(F.col("turn_idx") % 2 == 0)),
        "odd": (orchs["odd"], lambda df: df.filter(F.col("turn_idx") % 2 == 1)),
    }

    # Crash simulation: epoch 0's batch already landed on 'even' (table
    # VERSION advanced, catalog never flipped).
    orchs["even"].apply_batch(
        f1.filter(F.col("turn_idx") % 2 == 0), batch_id=1_000_000
    )
    v0 = cat.state.version

    q = start_cdc_multi_stream(
        stream_events(spark, str(src) + "/*", max_files_per_trigger=4),
        cat, routes, str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    cat.refresh()
    assert cat.state.version == v0 + 1  # ONE publish for the trigger
    assert cat.state.summary["batch_id"] == 1_000_000
    ce, co = cat.table("even"), cat.table("odd")
    assert current_state(ce.table, snapshot=ce.snapshot).count() == 2  # t0, t2
    assert current_state(co.table, snapshot=co.snapshot).count() == 1  # t1

    # Second file -> second trigger; restart consumes only the new epoch.
    spark.createDataFrame(
        [("U", 4, "c1", 0, "user", "hello-edited", t0 + dt.timedelta(seconds=5)),
         ("D", 5, "c1", 1, None, None, t0 + dt.timedelta(seconds=6))],
        CHANGE_EVENT_SCHEMA,
    ).write.parquet(str(src / "f2"))
    q2 = start_cdc_multi_stream(
        stream_events(spark, str(src) + "/*", max_files_per_trigger=4),
        cat, routes, str(tmp_path / "ckpt"),
    )
    q2.awaitTermination(120)
    cat.refresh()
    v2 = cat.state.version
    ce, co = cat.table("even"), cat.table("odd")
    even_rows = {
        (r.conv_id, r.turn_idx): r.text
        for r in current_state(ce.table, snapshot=ce.snapshot).collect()
    }
    assert even_rows == {("c1", 0): "hello-edited", ("c2", 2): "yo"}
    assert current_state(co.table, snapshot=co.snapshot).count() == 0  # t1 deleted

    # Full restart over the same source: no new epochs, nothing changes.
    q3 = start_cdc_multi_stream(
        stream_events(spark, str(src) + "/*", max_files_per_trigger=4),
        cat, routes, str(tmp_path / "ckpt"),
    )
    q3.awaitTermination(120)
    assert Catalog.load(spark, cat.path).state.version == v2


def test_apply_batch_atomic_wap_all_tables_audited(spark, tmp_path):
    """Cross-table WAP: a failing audit on ONE table keeps the batch
    invisible EVERYWHERE (direct-table readers included — stronger than
    plain apply_batch_atomic); a clean retry publishes tables + catalog
    with the audits recorded."""
    from tpc_di_spark.lake.catalog import apply_batch_atomic_wap
    from tpc_di_spark.lake.wap import (
        AuditFailed,
        list_branches,
        row_count_delta,
        unique_business_key,
    )

    cat, orchs = _fresh_catalog(spark, tmp_path)
    ev = _events(spark, 1)
    work = {n: (o, ev) for n, o in orchs.items()}
    apply_batch_atomic_wap(
        cat, work, batch_id=1,
        audit_checks={n: [unique_business_key()] for n in orchs},
    )
    reader = Catalog.load(spark, cat.path)
    assert reader.state.summary["operation"] == "cdc-multi-table-wap"
    for n, o in orchs.items():
        assert o.table.refresh().is_batch_committed(1)
        assert list_branches(o.table) == {}

    # Batch 2 with an impossible growth envelope on dim_b: everything
    # aborts, both tables AND the catalog stay at batch 1.
    snaps_before = {n: o.table.snapshot.snapshot_id for n, o in orchs.items()}
    ver_before = cat.refresh().state.version
    ev2 = _events(spark, 2)
    with pytest.raises(AuditFailed) as ei:
        apply_batch_atomic_wap(
            cat, {n: (o, ev2) for n, o in orchs.items()}, batch_id=2,
            audit_checks={"dim_b": [row_count_delta(min_delta=10_000)]},
        )
    assert any(r.get("table") == "dim_b" and not r["ok"] for r in ei.value.results)
    for n, o in orchs.items():
        o.table.refresh()
        assert o.table.snapshot.snapshot_id == snaps_before[n]
        assert not o.table.is_batch_committed(2)
        assert list_branches(o.table) == {}
    assert cat.refresh().state.version == ver_before

    # Retry with a sane envelope: publishes cleanly and records audits.
    recs = apply_batch_atomic_wap(
        cat, {n: (o, ev2) for n, o in orchs.items()}, batch_id=2,
        audit_checks={"dim_b": [row_count_delta(min_delta=0)]},
    )
    assert all(o.table.refresh().is_batch_committed(2) for o in orchs.values())
    assert cat.refresh().state.version == ver_before + 1
    assert all(r["ok"] for r in recs["dim_b"]["wap_audit"])


def test_apply_batch_atomic_wap_resumes_after_partial_publish(spark, tmp_path):
    """Crash between branch publishes: the published table re-enters as
    'already-published' (no spurious audit failure), the other stages
    fresh, and the catalog CAS ships the consistent pair."""
    from tpc_di_spark.lake.catalog import apply_batch_atomic_wap
    from tpc_di_spark.lake.wap import WapBranch, row_count_delta

    cat, orchs = _fresh_catalog(spark, tmp_path)
    ev = _events(spark, 1)
    work = {n: (o, ev) for n, o in orchs.items()}
    apply_batch_atomic_wap(cat, work, batch_id=1)
    ver1 = cat.refresh().state.version

    # Simulate the crash: dim_a's branch staged, audited and PUBLISHED;
    # the process died before dim_b staged anything.
    ev2 = _events(spark, 2)
    a = orchs["dim_a"]
    wap_a = WapBranch.begin(a.table, "xt-batch-000002")
    a.for_table(wap_a.staged).apply_batch(ev2, 2)
    wap_a.publish()
    assert a.table.refresh().is_batch_committed(2)
    live_a = {
        (r.conv_id, r.turn_idx): r.text for r in current_state(a.table).collect()
    }

    # The retry: min_delta would FAIL an empty re-staged branch if the
    # already-published guard were missing.
    recs = apply_batch_atomic_wap(
        cat, {n: (o, ev2) for n, o in orchs.items()}, batch_id=2,
        audit_checks={n: [row_count_delta(min_delta=1)] for n in orchs},
    )
    assert recs["dim_a"]["skipped"] == "already-committed"
    assert recs["dim_a"]["wap_audit"][0]["check"] == "already-published"
    b = orchs["dim_b"]
    assert b.table.refresh().is_batch_committed(2)
    # dim_a's state untouched by the retry; both visible via the catalog.
    assert {
        (r.conv_id, r.turn_idx): r.text for r in current_state(a.table.refresh()).collect()
    } == live_a
    reader = Catalog.load(spark, cat.path)
    assert reader.state.version == ver1 + 1
    assert reader.state.summary["batch_id"] == 2


def test_cross_table_fk_audit_gates_poisoned_cascade(spark, tmp_path):
    """q56's referential-integrity gate as a unit: a fact batch whose
    customer_sk references NO staged dimension row must abort the WHOLE
    cross-table publish — both tables and the catalog stay put — and the
    corrected cascade then publishes cleanly. This is the reference's
    post-load FK audit (report §5.1.1) moved BEFORE visibility."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    from tpc_di_spark.lake.catalog import apply_batch_atomic_wap
    from tpc_di_spark.lake.wap import AuditFailed, WapBranch, list_branches
    from tpc_di_spark.schemas import LINEAGE_FIELDS

    dim_schema = StructType(
        [
            StructField("customer_id", LongType(), False),
            StructField("customer_sk", LongType(), True),
            StructField("ts", TimestampType(), True),
        ]
        + LINEAGE_FIELDS
    )
    fact_schema = StructType(
        [
            StructField("order_id", LongType(), False),
            StructField("customer_sk", LongType(), True),
            StructField("total", DoubleType(), True),
            StructField("ts", TimestampType(), True),
        ]
        + LINEAGE_FIELDS
    )
    cat = Catalog.create(spark, str(tmp_path / "cat"))
    dim_t = cat.create_table("dim_customer", dim_schema, num_buckets=4,
                             key_cols=("customer_id",))
    fact_t = cat.create_table("fact_orders", fact_schema, num_buckets=4,
                              key_cols=("order_id",))
    dim_o = CdcOrchestrator(dim_t, buckets_per_group=4)
    fact_o = CdcOrchestrator(fact_t, buckets_per_group=4)

    def fk_check(bid):
        def check(wap):
            staged_dim = WapBranch.begin(dim_t, f"xt-batch-{bid:06d}").staged
            parent = (
                staged_dim.read(family="current")
                .filter(F.col("is_current"))
                .select("customer_sk").distinct()
            )
            child = (
                wap.staged.read(family="current")
                .filter(F.col("is_current"))
                .select("customer_sk").na.drop()
            )
            orphans = child.join(parent, "customer_sk", "left_anti").count()
            return {"check": "fk_customer_sk", "ok": orphans == 0,
                    "orphan_rows": orphans}
        return check

    EVD = "cdc_flag string, cdc_dsn long, customer_id long, customer_sk long, ts timestamp"
    EVF = "cdc_flag string, cdc_dsn long, order_id long, customer_sk long, total double, ts timestamp"
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    dim1 = spark.createDataFrame(
        [("I", i, i, i * 10 + 1, t0) for i in range(1, 6)], EVD
    )
    fact1 = spark.createDataFrame(
        [("I", 100 + i, 100 + i, (i % 5 + 1) * 10 + 1, 9.99, t0) for i in range(10)],
        EVF,
    )
    apply_batch_atomic_wap(
        cat,
        {"dim_customer": (dim_o, dim1), "fact_orders": (fact_o, fact1)},
        batch_id=1,
        audit_checks={"fact_orders": [fk_check(1)]},
    )
    assert dim_t.refresh().is_batch_committed(1)
    assert fact_t.refresh().is_batch_committed(1)

    # Batch 2: dim mints new SKs for customers 1-2 but the fact cascade is
    # POISONED — it points order 100 at SK 999 (nobody's). Abort everything.
    dim2 = spark.createDataFrame(
        [("U", 1_000 + i, i, i * 10 + 2, t0 + dt.timedelta(days=1)) for i in (1, 2)],
        EVD,
    )
    poisoned = spark.createDataFrame(
        [("U", 2_000, 100, 999, 9.99, t0 + dt.timedelta(days=1))], EVF
    )
    snaps = (dim_t.snapshot.snapshot_id, fact_t.snapshot.snapshot_id)
    ver = cat.refresh().state.version
    with pytest.raises(AuditFailed) as ei:
        apply_batch_atomic_wap(
            cat,
            {"dim_customer": (dim_o, dim2), "fact_orders": (fact_o, poisoned)},
            batch_id=2,
            audit_checks={"fact_orders": [fk_check(2)]},
        )
    failing = [r for r in ei.value.results if not r["ok"]]
    assert failing and failing[0]["check"] == "fk_customer_sk"
    # 4 orphans: order 100's bogus SK 999 plus the three live orders of
    # customers 1-2 the poisoned batch FAILED to cascade (their old SKs
    # 11/21 were closed by dim2) — the audit catches the missing cascade,
    # not just the bogus pointer.
    assert failing[0]["orphan_rows"] == 4
    assert (dim_t.refresh().snapshot.snapshot_id,
            fact_t.refresh().snapshot.snapshot_id) == snaps
    assert not dim_t.is_batch_committed(2) and not fact_t.is_batch_committed(2)
    assert cat.refresh().state.version == ver
    assert list_branches(dim_t) == {} and list_branches(fact_t) == {}

    # Corrected cascade: EVERY live order of customers 1-2 re-points to
    # the staged dim's new SKs (orders 100/105 -> 12, 101/106 -> 22).
    fixed = spark.createDataFrame(
        [("U", 2_000 + oid, oid, cust * 10 + 2, 9.99,
          t0 + dt.timedelta(days=1))
         for oid, cust in ((100, 1), (105, 1), (101, 2), (106, 2))],
        EVF,
    )
    apply_batch_atomic_wap(
        cat,
        {"dim_customer": (dim_o, dim2), "fact_orders": (fact_o, fixed)},
        batch_id=2,
        audit_checks={"fact_orders": [fk_check(2)]},
    )
    assert dim_t.refresh().is_batch_committed(2)
    assert fact_t.refresh().is_batch_committed(2)
    assert cat.refresh().state.version == ver + 1
