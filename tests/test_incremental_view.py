"""Declarative incremental materialized views (lake/incremental_view):
exact vs full recompute per batch, sum inversion under update/delete,
watermark monotonicity, CoW+MoR+compaction interplay, spec validation."""

import datetime as dt

import pyspark.sql.functions as F
import pytest

from tests.conftest import bucket_holding_closes, refresh_jobs
from tpc_di_spark.cdc import CdcOrchestrator
from tpc_di_spark.cdc.orchestrator import bootstrap_table
from tpc_di_spark.lake.incremental_view import IncrementalView
from tpc_di_spark.schemas import TRANSCRIPT_SCHEMA

EV = "cdc_flag string, cdc_dsn long, conv_id string, turn_idx int, role string, text string, ts timestamp"
T0 = dt.datetime(2024, 1, 1)

BATCHES = {
    1: [
        ("I", 1, "a", 0, "user", "hello", T0),
        ("I", 2, "a", 1, "assistant", "hi there friend", T0),
        ("I", 3, "b", 0, "user", "xx", T0),
    ],
    # update (a,0) text longer; insert (c,0); delete (b,0)
    2: [
        ("U", 4, "a", 0, "user", "hello hello hello", T0 + dt.timedelta(hours=1)),
        ("I", 5, "c", 0, "assistant", "ok", T0 + dt.timedelta(hours=1)),
        ("D", 6, "b", 0, None, None, T0 + dt.timedelta(hours=1)),
    ],
    # delete (a,1); U with NULL text retains prior text (P7 retention)
    3: [
        ("D", 7, "a", 1, None, None, T0 + dt.timedelta(hours=2)),
        ("U", 8, "c", 0, None, None, T0 + dt.timedelta(hours=2)),
    ],
}

ROLE_SPEC = [
    ("count_live", None, "live_turns"),
    ("sum_live", "cast(length(text) as bigint)", "live_chars"),
    ("count_versions", None, "versions_created"),
    ("count_closed", None, "versions_closed"),
    ("max_created", "ts", "last_event_ts"),
]


def _make(spark, tmp_path, name="t"):
    table = bootstrap_table(spark, str(tmp_path / name), TRANSCRIPT_SCHEMA, num_buckets=4)
    return table, CdcOrchestrator(table, buckets_per_group=4)


def _batch(spark, rows):
    return spark.createDataFrame(rows, EV)


def _full_recompute(table, key="role"):
    lineage = table.read()
    return {
        r[key]: (r.live, r.chars, r.created, r.closed, r.last_ts)
        for r in lineage.groupBy(key)
        .agg(
            F.sum(F.col("is_current").cast("long")).alias("live"),
            F.sum(
                F.when(F.col("is_current"), F.length("text").cast("long"))
            ).alias("chars"),
            F.count(F.lit(1)).alias("created"),
            F.sum((~F.col("is_current")).cast("long")).alias("closed"),
            F.max("ts").alias("last_ts"),
        )
        .collect()
    }


def _viewed(view):
    return {
        r.role: (
            r.live_turns,
            r.live_chars,
            r.versions_created,
            r.versions_closed,
            r.last_event_ts,
        )
        for r in view.refresh().collect()
    }


def test_view_equals_full_recompute_per_batch(spark, tmp_path):
    table, orch = _make(spark, tmp_path)
    view = IncrementalView(table, str(tmp_path / "v"), ["role"], ROLE_SPEC)
    for b, rows in BATCHES.items():
        orch.apply_batch(_batch(spark, rows), b)
        got = _viewed(view)  # refresh after EVERY batch (incremental path)
        assert got == _full_recompute(table), f"diverged after batch {b}"
    # final assistant live set: (a,1) was deleted in batch 3, and the
    # U-with-NULL-text on (c,0) RETAINED "ok" (P7): its sum inversion
    # nets retained-new - closed-old = 0, leaving live_chars = len("ok").
    assert got["assistant"][:2] == (1, len("ok"))


def test_sum_inversion_under_update_and_delete(spark, tmp_path):
    table, orch = _make(spark, tmp_path)
    view = IncrementalView(
        table, str(tmp_path / "v"), ["conv_id"],
        [("count_live", None, "n"), ("sum_live", "cast(length(text) as bigint)", "chars")],
    )
    orch.apply_batch(_batch(spark, BATCHES[1]), 1)
    view.refresh()
    orch.apply_batch(_batch(spark, BATCHES[2]), 2)
    got = {r.conv_id: (r.n, r.chars) for r in view.refresh().collect()}
    assert got["a"] == (2, len("hello hello hello") + len("hi there friend"))
    # the delete inverts the closed version's sum, and a group with no
    # live value reads SQL SUM's NULL
    assert got["b"] == (0, None)
    assert got["c"] == (1, 2)


# batch 2 for the emptied-group tests: every live "user" row dies, and a
# new role arrives
EMPTY_USER = [
    ("D", 10, "a", 0, None, None, T0 + dt.timedelta(hours=1)),
    ("D", 11, "b", 0, None, None, T0 + dt.timedelta(hours=1)),
    ("I", 12, "d", 0, "tool", "t", T0 + dt.timedelta(hours=1)),
]


def test_sum_of_emptied_group_is_null(spark, tmp_path):
    """Deleting every live row of a group leaves SUM over no rows: NULL,
    as the full recompute reads, not the 0 the signed sum nets to."""
    table, orch = _make(spark, tmp_path)
    view = IncrementalView(table, str(tmp_path / "v"), ["role"], ROLE_SPEC)
    orch.apply_batch(_batch(spark, BATCHES[1]), 1)
    _viewed(view)
    orch.apply_batch(_batch(spark, EMPTY_USER), 2)
    got = _viewed(view)
    assert got == _full_recompute(table)
    assert got["user"][:2] == (0, None)
    # the group comes back to life from its NULL sum
    orch.apply_batch(_batch(spark, [("I", 13, "e", 0, "user", "abc", T0)]), 3)
    got = _viewed(view)
    assert got == _full_recompute(table)
    assert got["user"][:2] == (1, 3)


def test_legacy_state_dir_without_sum_count_column(spark, tmp_path):
    """A state dir written before sum_live kept its hidden live count
    refreshes and reads as before: its groups keep the plain signed sum
    (an emptied one reads 0), while groups new to the view get SQL
    semantics."""
    import json
    import os

    table, orch = _make(spark, tmp_path)
    view = IncrementalView(table, str(tmp_path / "v"), ["role"], ROLE_SPEC)
    orch.apply_batch(_batch(spark, BATCHES[1]), 1)
    view.refresh()
    ck = view._load_ckpt()
    old = spark.read.parquet(os.path.join(view.state_dir, ck["state_rel"]))
    old.drop("_h_n_live_chars").write.parquet(os.path.join(view.state_dir, "state-legacy"))
    view.fs.replace_text(view._ckpt_path(), json.dumps({**ck, "state_rel": "state-legacy"}))
    orch.apply_batch(_batch(spark, EMPTY_USER), 2)
    got, want = _viewed(view), _full_recompute(table)
    assert got.keys() == want.keys() == {"user", "assistant", "tool"}
    assert got["user"] == (0, 0) + want["user"][2:]
    assert got["assistant"] == want["assistant"]
    assert got["tool"] == want["tool"]


def test_watermarks_do_not_rewind_on_delete(spark, tmp_path):
    table, orch = _make(spark, tmp_path)
    view = IncrementalView(
        table, str(tmp_path / "v"), ["conv_id"],
        [("max_created", "ts", "hi_ts"), ("min_created", "ts", "lo_ts"),
         ("count_live", None, "n")],
    )
    for b, rows in BATCHES.items():
        orch.apply_batch(_batch(spark, rows), b)
    got = {r.conv_id: (r.lo_ts, r.hi_ts, r.n) for r in view.refresh().collect()}
    assert got["b"] == (T0, T0, 0), "deleted conv keeps its created-watermarks"
    assert got["a"][1] == T0 + dt.timedelta(hours=1)


def test_exact_across_mor_and_compaction(spark, tmp_path):
    """The view holds its checkpoint below pending MoR deltas, then
    catches up exactly after compaction materializes them."""
    from tpc_di_spark.cdc.mor import apply_batch_mor, compact_deltas
    from tpc_di_spark.lake.maintenance import compact

    table, orch = _make(spark, tmp_path)
    view = IncrementalView(table, str(tmp_path / "v"), ["role"], ROLE_SPEC)
    orch.apply_batch(_batch(spark, BATCHES[1]), 1)
    view.refresh()
    apply_batch_mor(orch, _batch(spark, BATCHES[2]), 2)
    # pending delta: the view must NOT advance past it
    view.refresh()
    assert view._load_ckpt()["batch_id"] == 1
    compact_deltas(orch)
    orch.apply_batch(_batch(spark, BATCHES[3]), 3)
    compact(table, max_files_per_bucket=0)  # erase closing tags too
    got = _viewed(view)
    assert got == _full_recompute(table)


def test_exact_after_partial_compaction(spark, tmp_path):
    """A one-bucket compaction re-tags only that bucket's closes: the
    refresh must read the batch's whole close set from its committing
    snapshot, not the tags that survived in the other buckets."""
    from tpc_di_spark.lake.maintenance import compact

    table, orch = _make(spark, tmp_path)
    view = IncrementalView(table, str(tmp_path / "v"), ["role"], ROLE_SPEC)
    keys = [f"k{i:02d}" for i in range(16)]
    kept = ("I", 99, "live", 0, "user", "y", T0)  # keeps live_chars non-NULL
    orch.apply_batch(
        _batch(spark, [kept] + [("I", i, k, 0, "user", "x", T0) for i, k in enumerate(keys)]), 1
    )
    _viewed(view)
    later = T0 + dt.timedelta(hours=1)
    orch.apply_batch(
        _batch(spark, [("D", 100 + i, k, 0, None, None, later) for i, k in enumerate(keys)]), 2
    )
    compact(table, buckets=[bucket_holding_closes(table, 2)])
    got = _viewed(view)
    assert got == _full_recompute(table)
    live, _, _, closed, _ = got["user"]
    assert (live, closed) == (1, 16)


def test_noop_refresh_and_crash_idempotence(spark, tmp_path):
    table, orch = _make(spark, tmp_path)
    view = IncrementalView(table, str(tmp_path / "v"), ["role"], ROLE_SPEC)
    orch.apply_batch(_batch(spark, BATCHES[1]), 1)
    first = _viewed(view)
    assert _viewed(view) == first  # nothing new committed -> no-op
    # crash between state write and ckpt flip -> rerun recomputes same range
    orch.apply_batch(_batch(spark, BATCHES[2]), 2)
    orig = view.fs.replace_text

    def failing(path, text):
        raise RuntimeError("crash before flip")

    view.fs.replace_text = failing
    with pytest.raises(RuntimeError, match="crash before flip"):
        view.refresh()
    view.fs.replace_text = orig
    assert _viewed(view) == _full_recompute(table)


def test_spec_validation(spark, tmp_path):
    table, _ = _make(spark, tmp_path)
    with pytest.raises(ValueError, match="unknown aggregate kind"):
        IncrementalView(table, str(tmp_path / "v1"), ["role"], [("median_live", "x", "a")])
    with pytest.raises(ValueError, match="takes no expression"):
        IncrementalView(table, str(tmp_path / "v2"), ["role"], [("count_live", "x", "a")])
    with pytest.raises(ValueError, match="requires an expression"):
        IncrementalView(table, str(tmp_path / "v3"), ["role"], [("sum_live", None, "a")])


def test_legacy_state_dir_without_membership_column(spark, tmp_path):
    """Code-review r05: a state dir written before the hidden
    _versions_created column existed must NOT lose quiet keys on the
    first post-upgrade refresh (NULL-filled membership would read 0 and
    the >0 filter would drop every key the new batch range misses)."""
    import json
    import os

    from tpc_di_spark.lake.incremental_agg import ConvStatsConsumer

    table, orch = _make(spark, tmp_path)
    orch.apply_batch(_batch(spark, BATCHES[1]), 1)
    consumer = ConvStatsConsumer(table, str(tmp_path / "stats"))
    consumer.refresh()
    # rewrite the state as the OLD layout (drop the membership column)
    ck = consumer._load_ckpt()
    state_path = os.path.join(consumer.state_dir, ck["state_rel"])
    old = spark.read.parquet(state_path).drop("_versions_created")
    legacy_dir = os.path.join(consumer.state_dir, "state-legacy")
    old.write.mode("overwrite").parquet(legacy_dir)
    consumer.fs.replace_text(
        consumer._ckpt_path(),
        json.dumps({**ck, "state_rel": "state-legacy"}),
    )
    # the next batch touches NOTHING from batch 1 — every legacy key is
    # "quiet" and must survive the membership backfill
    orch.apply_batch(
        _batch(spark, [("I", 99, "zz", 0, "user", "new", T0)]), 2
    )
    got = {r.conv_id for r in consumer.refresh().collect()}
    assert {"a", "b", "zz"} <= got, "quiet legacy keys must survive the upgrade"


# ---------------------------------------------------------------------------
# Extended algebra: avg_live, last_by_ts, and the non-invertible live
# extremes (max_live/min_live via recompute-on-retraction).
# ---------------------------------------------------------------------------

EXT_SPEC = [
    ("count_live", None, "live_turns"),
    ("avg_live", "cast(length(text) as bigint)", "avg_chars"),
    ("last_by_ts", "text", "last_text"),
    ("max_live", "cast(length(text) as bigint)", "max_chars"),
    ("min_live", "cast(length(text) as bigint)", "min_chars"),
]


def _ext_recompute(table):
    """Oracle: full lineage recompute of every extended aggregate."""
    lineage = table.read()
    live = lineage.filter(F.col("is_current"))
    base = live.groupBy("role").agg(
        F.count(F.lit(1)).alias("live_turns"),
        F.avg(F.length("text").cast("long")).alias("avg_chars"),
        F.max(F.length("text").cast("long")).alias("max_chars"),
        F.min(F.length("text").cast("long")).alias("min_chars"),
    )
    lb = lineage.groupBy("role").agg(
        F.max(
            F.struct(
                F.col("ts").alias("o1"),
                F.col("batch_id").cast("long").alias("o2"),
                F.col("text").alias("v"),
            )
        ).alias("p")
    ).select("role", F.col("p.v").alias("last_text"))
    rows = (
        base.join(lb, "role", "full_outer")
        .select("role", "live_turns", "avg_chars", "last_text",
                "max_chars", "min_chars")
        .collect()
    )
    return {
        r.role: (r.live_turns or 0, r.avg_chars, r.last_text,
                 r.max_chars, r.min_chars)
        for r in rows
    }


def _ext_viewed(view):
    return {
        r.role: (r.live_turns, r.avg_chars, r.last_text, r.max_chars, r.min_chars)
        for r in view.state().collect()
    }


def test_extended_aggs_equal_full_recompute_per_batch(spark, tmp_path):
    table, orch = _make(spark, tmp_path)
    view = IncrementalView(table, str(tmp_path / "v"), ["role"], EXT_SPEC)
    for b in (1, 2, 3):
        orch.apply_batch(_batch(spark, BATCHES[b]), b)
        view.refresh()
        got, want = _ext_viewed(view), _ext_recompute(table)
        # lineage groups whose every version is dead keep a view row
        # (membership semantics); compare on the view's keys
        for k, v in got.items():
            assert v == pytest.approx(want[k], nan_ok=True), (b, k, v, want[k])


def test_max_live_retracts_when_extreme_row_dies(spark, tmp_path):
    """The delete of the longest 'user' text must REWIND max_chars (the
    case the monotone max_created cannot express), via recompute of only
    the dirty group."""
    table, orch = _make(spark, tmp_path)
    view = IncrementalView(
        table, str(tmp_path / "v"), ["role"],
        [("max_live", "cast(length(text) as bigint)", "max_chars"),
         ("min_live", "cast(length(text) as bigint)", "min_chars")],
    )
    orch.apply_batch(_batch(spark, [
        ("I", 1, "a", 0, "user", "long long long text", T0),     # 19 chars
        ("I", 2, "b", 0, "user", "mid text", T0),                # 8
        ("I", 3, "c", 0, "user", "s", T0),                       # 1
        ("I", 4, "a", 1, "assistant", "other group", T0),
    ]), 1)
    st = {r.role: (r.max_chars, r.min_chars) for r in view.refresh().collect()}
    assert st["user"] == (19, 1)

    # delete the max holder AND the min holder: both extremes rewind
    orch.apply_batch(_batch(spark, [
        ("D", 5, "a", 0, None, None, T0 + dt.timedelta(hours=1)),
        ("D", 6, "c", 0, None, None, T0 + dt.timedelta(hours=1)),
    ]), 2)
    st = {r.role: (r.max_chars, r.min_chars) for r in view.refresh().collect()}
    assert st["user"] == (8, 8)
    assert st["assistant"] == (11, 11)  # untouched group untouched

    # delete the LAST live row of the group: extremes go NULL
    orch.apply_batch(_batch(spark, [
        ("D", 7, "b", 0, None, None, T0 + dt.timedelta(hours=2)),
    ]), 3)
    st = {r.role: (r.max_chars, r.min_chars) for r in view.refresh().collect()}
    assert st["user"] == (None, None)


def test_avg_live_ignores_nulls_and_inverts(spark, tmp_path):
    table, orch = _make(spark, tmp_path)
    view = IncrementalView(
        table, str(tmp_path / "v"), ["role"],
        [("avg_live", "cast(length(text) as bigint)", "avg_chars")],
    )
    orch.apply_batch(_batch(spark, [
        ("I", 1, "a", 0, "user", "aaaa", T0),      # 4
        ("I", 2, "b", 0, "user", "aa", T0),        # 2
    ]), 1)
    assert {r.role: r.avg_chars for r in view.refresh().collect()} == {"user": 3.0}
    # update shrinks one value; avg follows exactly (inversion)
    orch.apply_batch(_batch(spark, [
        ("U", 3, "a", 0, "user", "aaaaaaaa", T0 + dt.timedelta(hours=1)),  # 8
    ]), 2)
    assert {r.role: r.avg_chars for r in view.refresh().collect()} == {"user": 5.0}
    # delete one: avg over the remaining single row
    orch.apply_batch(_batch(spark, [
        ("D", 4, "b", 0, None, None, T0 + dt.timedelta(hours=2)),
    ]), 3)
    assert {r.role: r.avg_chars for r in view.refresh().collect()} == {"user": 8.0}


def test_last_by_ts_lww_and_watermark(spark, tmp_path):
    table, orch = _make(spark, tmp_path)
    view = IncrementalView(
        table, str(tmp_path / "v"), ["role"],
        [("last_by_ts", "text", "last_text")],
    )
    orch.apply_batch(_batch(spark, [
        ("I", 1, "a", 0, "user", "first", T0),
        ("I", 2, "b", 0, "user", "second", T0 + dt.timedelta(minutes=5)),
    ]), 1)
    assert {r.role: r.last_text for r in view.refresh().collect()} == {"user": "second"}
    # later ts wins across refreshes
    orch.apply_batch(_batch(spark, [
        ("U", 3, "a", 0, "user", "third", T0 + dt.timedelta(hours=1)),
    ]), 2)
    assert {r.role: r.last_text for r in view.refresh().collect()} == {"user": "third"}
    # delete does NOT rewind (watermark semantics, like max_created)
    orch.apply_batch(_batch(spark, [
        ("D", 4, "a", 0, None, None, T0 + dt.timedelta(hours=2)),
    ]), 3)
    assert {r.role: r.last_text for r in view.refresh().collect()} == {"user": "third"}


def test_live_extremes_refuse_cow_above_mor_horizon(spark, tmp_path):
    """The one interleaving recompute-on-retraction cannot serve exactly
    (CoW batch materialized above a pending MoR delta) is refused with a
    clear error, not silently drifted past."""
    from tpc_di_spark.cdc.mor import apply_batch_mor

    table, orch = _make(spark, tmp_path)
    view = IncrementalView(
        table, str(tmp_path / "v"), ["role"],
        [("max_live", "cast(length(text) as bigint)", "max_chars")],
    )
    orch.apply_batch(_batch(spark, BATCHES[1]), 1)        # consumable
    apply_batch_mor(orch, _batch(spark, BATCHES[2]), 2)   # pending delta
    orch.apply_batch(_batch(spark, BATCHES[3]), 3)        # CoW above it
    # batch 1 is consumable but the live family already materialized
    # batch 3 past the horizon — the recompute would read the future
    with pytest.raises(ValueError, match="beyond the consumable horizon"):
        view.refresh()
    # compaction materializes batch 2; everything becomes consumable and
    # the same view refreshes exactly
    from tpc_di_spark.cdc.mor import compact_deltas

    compact_deltas(orch)
    st = {r.role: r.max_chars for r in view.refresh().collect()}
    want = {
        r.role: r.mx
        for r in table.read()
        .filter(F.col("is_current"))
        .groupBy("role")
        .agg(F.max(F.length("text").cast("long")).alias("mx"))
        .collect()
    }
    for k, v in want.items():
        assert st[k] == v


def test_sum_and_avg_keep_their_state_types(spark, tmp_path):
    """sum_live over int, double and decimal expressions and avg_live over
    the same keep the state's declared type (``sum(expr)``'s) across
    refreshes and equal a recompute after each one: a widened, uncast
    state write fails the next refresh's explicit-schema read."""
    exprs = {
        "i": "turn_idx",
        "d": "cast(length(text) as double)",
        "m": "cast(length(text) as decimal(10,2))",
    }
    spec = [("sum_live", e, f"sum_{n}") for n, e in exprs.items()]
    spec += [("avg_live", e, f"avg_{n}") for n, e in exprs.items()]
    table, orch = _make(spark, tmp_path)
    view = IncrementalView(table, str(tmp_path / "v"), ["role"], spec)
    for b, rows in BATCHES.items():
        orch.apply_batch(_batch(spark, rows), b)
        got = {r.role: r.asDict() for r in view.refresh().collect()}
        live = table.read().filter(F.col("is_current"))
        want = {
            r.role: r.asDict()
            for r in live.groupBy("role").agg(
                *[F.sum(F.expr(e)).alias(f"sum_{n}") for n, e in exprs.items()],
                *[F.avg(F.expr(e)).alias(f"avg_{n}") for n, e in exprs.items()],
            ).collect()
        }
        assert got.keys() == want.keys(), b
        for role, w in want.items():
            for n in exprs:
                assert got[role][f"sum_{n}"] == w[f"sum_{n}"], (b, role, n)
                want_avg = pytest.approx(float(w[f"avg_{n}"]))
                assert got[role][f"avg_{n}"] == want_avg, (b, role, n)


def test_refresh_runs_one_fold_and_one_write(spark, tmp_path):
    """A refresh is the union -> fold shuffle and the fold -> state write:
    at most 2 Spark jobs for a one-batch and a two-batch range, and for
    live extremes whose closes retract no extreme (the write's observed
    dirty count skips the repair). A join chain per refresh (created x
    closed, delta x state) launches 7 and 10 here."""
    table, orch = _make(spark, tmp_path)
    view = IncrementalView(table, str(tmp_path / "v"), ["role"], ROLE_SPEC)
    orch.apply_batch(_batch(spark, BATCHES[1]), 1)
    one = refresh_jobs(spark, view, "view-jobs-1")
    orch.apply_batch(_batch(spark, BATCHES[2]), 2)
    orch.apply_batch(_batch(spark, BATCHES[3]), 3)
    two = refresh_jobs(spark, view, "view-jobs-2")
    assert one <= 2 and two <= 2, (one, two)
    assert _viewed(view) == _full_recompute(table)

    table, orch = _make(spark, tmp_path, "x")
    n_chars = "cast(length(text) as bigint)"
    ext = IncrementalView(
        table, str(tmp_path / "xv"), ["role"],
        [("max_live", n_chars, "hi"), ("min_live", n_chars, "lo")],
    )
    orch.apply_batch(_batch(spark, [
        ("I", 1, "a", 0, "user", "x", T0),
        ("I", 2, "b", 0, "user", "xxxxx", T0),
        ("I", 3, "c", 0, "user", "xxxxxxxxx", T0),
    ]), 1)
    ext.refresh()
    # closes the 5-char version: neither the max (9) nor the min (1)
    orch.apply_batch(_batch(spark, [
        ("U", 4, "b", 0, "user", "xxxxxx", T0 + dt.timedelta(hours=1)),
    ]), 2)
    quiet = refresh_jobs(spark, ext, "view-jobs-extremes")
    assert quiet <= 2, quiet
    assert {r.role: (r.hi, r.lo) for r in ext.state().collect()} == {"user": (9, 1)}
