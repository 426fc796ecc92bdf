"""Declarative incremental materialized views over the changelog — the
generalization of the per-conversation stats consumer into the engine's
materialized-view story: declare key columns + a list of aggregate specs,
and the view is kept EXACTLY equal to the same aggregation over the
table's full lineage while reading only each refresh's changed rows.

This is the operator a 100-TB pipeline user reaches for weekly (rollup
marts, feature tables, per-tenant usage counters): a full recompute scans
the whole fact table per refresh; this refresh costs one file-skipped
changelog scan of the unconsumed batch range, unioned with the old state
as one signed change set (DBSP-style: created versions weigh +, closed
versions −) and folded by ONE ``groupBy(key)`` into the new state — two
Spark jobs, the fold shuffle and the state write; O(changed + state),
independent of table age.
TPC-DI has no changelog consumer at all (its incremental batches are
inputs only, `Incremental1/*.py`); the closest published analogues are
Materialize/DBSP-style incremental view maintenance and Iceberg's
incremental reads, rebuilt here on the LakeTable snapshot log.

Supported aggregate kinds (all distributive and — where live-set
semantics require it — INVERTIBLE, the property that makes exact
maintenance under updates/deletes possible without per-key row state):

- ``count_live``            — live row count: Σ created − Σ closed.
- ``sum_live(expr)``        — SQL SUM of expr over live rows: add
  created versions' values, subtract closed versions' values (an update
  nets to new − old because the old version closes in the same batch).
  A hidden live non-NULL count makes a group with no live non-NULL
  value read NULL, not the 0 the signed sum nets to.
- ``count_versions``        — monotone created-version counter.
- ``count_closed``          — monotone closed-version counter.
- ``max_created(expr)`` / ``min_created(expr)`` — monotone extremes over
  ALL created versions (watermark semantics: a delete does not rewind
  them).
- ``avg_live(expr)``        — SQL AVG over live rows (NULLs ignored),
  maintained as an invertible (Σ, non-NULL count) pair in hidden state
  columns; the visible column is their DOUBLE quotient (NULL when no
  live non-NULL value — empty-AVG semantics).
- ``last_by_ts(expr)``      — the expr value of the most recently
  created version in the group, ordered by (ts, batch_id) with ties
  resolved to the GREATEST expr value (deterministic arg-max; one
  lexicographic struct max per refresh). Watermark semantics like the
  created-extremes: a delete does not rewind it.
- ``max_live(expr)`` / ``min_live(expr)`` — TRUE live-set extremes.
  These are NOT invertible (a delete can retract the current extreme),
  so they use RECOMPUTE-ON-RETRACTION: the refresh maintains them as
  monotone folds until a closed version's value ties-or-beats the
  candidate extreme, and then recomputes ONLY the affected groups from
  the table's live file family (column-pruned scan of the dirty groups'
  rows). The state write counts the dirty groups in an ``Observation``;
  the repair runs only when that count is > 0, so refreshes whose closes
  never touch an extreme pay nothing for it. Exactness requires the
  live family to BE the state at the consumed batch; the one
  interleaving that breaks this (a CoW batch committed above a pending
  merge-on-read horizon) is refused with an explicit error rather than
  silently drifting.

Non-goals, by design: count-distinct needs a sketch (see
operators/dedup.py for the hashing toolbox).

A key enters the state with its first created version and stays after
its last live row dies (its monotone counters still carry information);
filter ``count_live > 0`` at read time for live-only marts.

Checkpointing, the rollback guard, the merge-on-read horizon and the
exact close sets are the shared consumer contract
(:class:`~tpc_di_spark.lake.changelog.ChangelogConsumer`, README
"Downstream fan-out"); this module adds the aggregate fold
(``ConvStatsConsumer`` is the fixed-spec original, kept as the q49
contract surface).
"""

from __future__ import annotations

import operator
import os
from functools import reduce
from typing import Sequence

import pyspark.sql.functions as F
from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from tpc_di_spark.lake.changelog import ChangelogConsumer
from tpc_di_spark.lake.table import LakeTable

_VC = "_versions_created"  # hidden membership counter, always maintained

_KINDS = (
    "count_live",
    "sum_live",
    "count_versions",
    "count_closed",
    "max_created",
    "min_created",
    "avg_live",
    "last_by_ts",
    "max_live",
    "min_live",
)
_LIVE_EXTREMES = ("max_live", "min_live")


def _sum_unless_null(c: str) -> Column:
    """SUM that is NULL when any input is NULL (a legacy state row's
    missing count stays unknown instead of restarting from 0)."""
    return F.when(F.count(F.lit(1)) == F.count(c), F.sum(c))


class IncrementalView(ChangelogConsumer):
    """An incrementally-maintained aggregate view over a transcript
    :class:`LakeTable`.

    ``aggs`` is a sequence of ``(kind, expr, name)`` tuples — ``kind``
    one of the module's supported kinds, ``expr`` a SQL expression over
    the table's payload columns (None for the count kinds), ``name`` the
    output column. Example (per-role token totals)::

        IncrementalView(
            table, state_dir, key_cols=["role"],
            aggs=[
                ("count_live", None, "live_turns"),
                ("sum_live", "cast(length(text) as bigint)", "live_chars"),
                ("max_created", "ts", "last_event_ts"),
            ],
        )
    """

    def __init__(
        self,
        table: LakeTable,
        state_dir: str,
        key_cols: Sequence[str],
        aggs: Sequence[tuple[str, str | None, str]],
    ) -> None:
        for kind, expr, name in aggs:
            if kind not in _KINDS:
                raise ValueError(f"unknown aggregate kind {kind!r} for {name!r}")
            if kind.startswith("count") and expr is not None:
                raise ValueError(f"{kind} takes no expression ({name!r})")
            if not kind.startswith("count") and expr is None:
                raise ValueError(f"{kind} requires an expression ({name!r})")
        super().__init__(table, state_dir)
        self.table = table
        self.key_cols = list(key_cols)
        self.aggs = list(aggs)

    # -- state --------------------------------------------------------------

    def _state_schema(self) -> StructType:
        tbl = {f.name: f for f in self.table.schema.fields}
        key_fields = [
            StructField(k, tbl[k].dataType, tbl[k].nullable) for k in self.key_cols
        ]
        # Aggregate types come from a zero-row projection of the table
        # schema: the expression's natural Spark type, and for the signed
        # sums (sum_live, avg_live's hidden sum) the type of ``sum(expr)``.
        probe = self.table.spark.createDataFrame([], self.table.schema)

        def type_of(col: Column):
            return probe.select(col).schema[0].dataType

        agg_fields = []
        for kind, expr, name in self.aggs:
            if kind.startswith("count"):
                agg_fields.append(StructField(name, LongType(), False))
            elif kind == "sum_live":
                agg_fields.append(StructField(name, type_of(F.sum(F.expr(expr))), True))
                # NULL in a state dir written before the column existed
                agg_fields.append(StructField(f"_h_n_{name}", LongType(), True))
            elif kind == "avg_live":
                agg_fields.append(StructField(name, DoubleType(), True))
                agg_fields.append(
                    StructField(f"_h_sum_{name}", type_of(F.sum(F.expr(expr))), True)
                )
                agg_fields.append(StructField(f"_h_n_{name}", LongType(), False))
            elif kind == "last_by_ts":
                agg_fields.append(StructField(name, type_of(F.expr(expr)), True))
                agg_fields.append(StructField(f"_h_ts_{name}", tbl["ts"].dataType, True))
                agg_fields.append(StructField(f"_h_b_{name}", LongType(), True))
            else:  # extremes (created or live)
                agg_fields.append(StructField(name, type_of(F.expr(expr)), True))
        return StructType(
            key_fields + agg_fields + [StructField(_VC, LongType(), False)]
        )

    def state(self) -> DataFrame:
        """The maintained view as of the last :meth:`refresh` (without
        the hidden membership counter / component columns)."""
        full = self._state_full()
        hidden = [c for c in full.columns if c.startswith("_h_")]
        return full.drop(_VC, *hidden)

    def _state_full(self) -> DataFrame:
        ck = self._load_ckpt()
        schema = self._state_schema()
        if ck is None:
            return self.table.spark.createDataFrame([], schema)
        # An explicit schema: no inference job. LEGACY state dirs (written
        # before the hidden membership column existed) read it as NULL,
        # and the membership filter would then silently drop every key the
        # next refresh doesn't touch. Every newer state row has _VC > 0,
        # so a NULL marks a legacy row: backfill a positive marker (only
        # positivity matters).
        return (
            self.table.spark.read.schema(schema)
            .parquet(os.path.join(self.state_dir, ck["state_rel"]))
            .withColumn(_VC, F.coalesce(F.col(_VC), F.lit(1).cast("long")))
        )

    # -- refresh ------------------------------------------------------------

    def _keys_match(self, a: str, b: str) -> Column:
        """NULL-safe equality of every key column between the join sides
        aliased ``a`` and ``b``."""
        cond = F.lit(True)
        for k in self.key_cols:
            cond = cond & F.col(f"{a}.{k}").eqNullSafe(F.col(f"{b}.{k}"))
        return cond

    def _fold(self, created: DataFrame, closed: DataFrame) -> DataFrame:
        """The new state: the old state and the range's created (+) and
        closed (−) versions as one signed union, folded by ONE
        ``groupBy(key)`` — GROUP BY folds NULL keys into one group, like
        the view's own semantics. Each aggregate reads per-source *slot*
        columns (a source without the slot contributes NULL, which SQL
        aggregates skip); live extremes add ``_dirty_<name>`` flags."""
        schema = self._state_schema()
        typ = {f.name: f.dataType for f in schema.fields}
        one = F.lit(1).cast("long")
        sides: tuple[list, list, list] = ([], [], [])  # state, created, closed
        aggs: list[Column] = []

        def slot(fn, old=None, plus=None, minus=None) -> Column:
            name = f"__slot{len(aggs)}"
            for side, col in zip(sides, (old, plus, minus)):
                if col is not None:
                    side.append(col.alias(name))
            aggs.append(fn(name).alias(name))
            return F.col(name)

        out = {k: F.col(k) for k in self.key_cols}
        dirty = []
        for kind, expr, name in self.aggs:
            x = None if expr is None else F.expr(expr)
            old = F.col(name)
            if kind == "count_live":
                out[name] = slot(F.sum, old, one, -one)
            elif kind == "count_versions":
                out[name] = slot(F.sum, old, one)
            elif kind == "count_closed":
                # a created-only group must read 0, not an empty sum's NULL
                out[name] = slot(F.sum, old, F.lit(0).cast("long"), one)
            elif kind == "sum_live":
                # SQL SUM over no non-NULL live value is NULL, not the 0
                # that Σ created − Σ closed nets to: keep the live
                # non-NULL count beside the sum, as avg_live does. A
                # legacy state row has no count (NULL), and its group
                # keeps the old Σ-only reading.
                hn = f"_h_n_{name}"
                xt, nn = x.cast(typ[name]), x.isNotNull().cast("long")
                s = slot(F.sum, old, xt, -xt)
                out[hn] = n = slot(_sum_unless_null, F.col(hn), nn, -nn)
                out[name] = F.when(~n.eqNullSafe(0), s)
            elif kind == "avg_live":
                hs, hn = f"_h_sum_{name}", f"_h_n_{name}"
                xt, nn = x.cast(typ[hs]), x.isNotNull().cast("long")
                out[hs] = s = slot(F.sum, F.col(hs), xt, -xt)
                out[hn] = n = slot(F.sum, F.col(hn), nn, -nn)
                out[name] = F.try_divide(s.cast("double"), n)
            elif kind == "last_by_ts":
                # Lexicographic struct MAX = arg-max over (ts, batch_id)
                # with value tie-break. The state's pack takes part
                # whenever it holds a version (_h_b set), a NULL ts too.
                ht, hb = f"_h_ts_{name}", f"_h_b_{name}"
                p = slot(
                    F.max,
                    F.when(
                        F.col(hb).isNotNull(),
                        F.struct(F.col(ht).alias("o1"), F.col(hb).alias("o2"), old.alias("v")),
                    ),
                    F.struct(
                        F.col("ts").alias("o1"),
                        F.col("batch_id").cast("long").alias("o2"),
                        x.cast(typ[name]).alias("v"),
                    ),
                )
                out[name], out[ht], out[hb] = p.getField("v"), p.getField("o1"), p.getField("o2")
            else:  # created / live extremes
                fn = F.max if kind.startswith("max") else F.min
                out[name] = v = slot(fn, old, x)
                if kind in _LIVE_EXTREMES:
                    # a closed version that ties-or-beats the candidate
                    # may have been the extreme: the group needs repair
                    d = slot(fn, minus=x)
                    beats = d >= v if kind == "max_live" else d <= v
                    dirty.append((d.isNotNull() & (v.isNull() | beats)).alias(f"_dirty_{name}"))
        out[_VC] = slot(F.sum, F.col(_VC), one)
        state, plus, minus = sides
        union = (
            self._state_full().select(*self.key_cols, *state)
            .unionByName(created.select(*self.key_cols, *plus), allowMissingColumns=True)
            .unionByName(closed.select(*self.key_cols, *minus), allowMissingColumns=True)
        )
        return (
            union.groupBy(*self.key_cols)
            .agg(*aggs)
            .select(*[out[f.name].cast(f.dataType).alias(f.name) for f in schema.fields], *dirty)
            # a key enters the view with its first created version
            # (delete events for never-seen keys are no-ops)
            .filter(F.col(_VC) > 0)
        )

    def _recompute_retracted(
        self, fold: DataFrame, extremes, any_dirty: Column
    ) -> DataFrame:
        """max_live/min_live retraction repair: groups whose closed-side
        extreme tied-or-beat the candidate (``any_dirty``) get their TRUE
        extreme recomputed from the live file family — only those groups'
        rows are aggregated (a column-pruned, group-filtered scan)."""
        live = self.table.read(family="current").filter(F.col("is_current"))
        dirty_keys = fold.filter(any_dirty).select(*self.key_cols).distinct()
        # Null-safe semi join: restrict the live scan to dirty groups.
        l, r = live.alias("l"), dirty_keys.alias("r")
        affected = l.join(r, self._keys_match("l", "r"), "left_semi")
        rec = affected.groupBy(
            *[F.col(f"l.{k}").alias(k) for k in self.key_cols]
        ).agg(*[
            (F.max if kind == "max_live" else F.min)(F.expr(expr)).alias(f"_r_{name}")
            for kind, expr, name in extremes
        ])
        names = {n for _k, _e, n in extremes}
        m, rr = fold.alias("m"), rec.alias("rr")
        out_cols = [
            F.when(F.col(f"m._dirty_{c}"), F.col(f"rr._r_{c}")).otherwise(F.col(f"m.{c}")).alias(c)
            if c in names
            else F.col(f"m.{c}").alias(c)
            for c in fold.columns
            if not c.startswith("_dirty_")
        ]
        return m.join(rr, self._keys_match("m", "rr"), "left").select(*out_cols)

    def refresh(self) -> DataFrame:
        """Catch the view up through every committed batch; returns it.
        Reads ONLY the changelog of the unconsumed batch range; calling
        again with nothing new committed is a no-op."""
        rng = self._plan()
        if not rng.pending:
            return self.state()

        extremes = [a for a in self.aggs if a[0] in _LIVE_EXTREMES]
        if extremes:
            # Recompute-on-retraction reads the LIVE file family, which
            # equals the state at `upto` unless a copy-on-write batch
            # committed ABOVE a pending merge-on-read horizon (the one
            # interleaving where the current family runs ahead of the
            # consumable changelog). Refuse loudly — the alternative is
            # a silently drifting extreme.
            beyond = [
                b
                for b in sorted(rng.snap.committed_batches)
                if b not in rng.consumed
                and b not in rng.pending
                and b not in rng.pending_mor
            ]
            if beyond:
                raise ValueError(
                    f"max_live/min_live cannot refresh exactly: batches "
                    f"{beyond} are materialized beyond the consumable "
                    f"horizon {rng.upto} (pending MoR deltas "
                    f"{list(rng.pending_mor)}). Compact the deltas, then refresh."
                )

        fold = self._fold(rng.created(), rng.closed())
        state_rel = f"state-b{rng.upto:06d}"
        path = os.path.join(self.state_dir, state_rel)
        if not extremes:
            fold.write.mode("overwrite").parquet(path)
        else:
            # The write observes how many groups need the retraction
            # repair; only then does the repair run, overwriting the same
            # not-yet-checkpointed dir (its plan reads the previous state,
            # never this one).
            dirty = [f"_dirty_{n}" for _k, _e, n in extremes]
            any_dirty = reduce(operator.or_, map(F.col, dirty))
            obs = Observation()
            observed = fold.observe(obs, F.count_if(any_dirty).alias("n"))
            observed.drop(*dirty).write.mode("overwrite").parquet(path)
            try:
                n_dirty = obs.get["n"]
            except Py4JJavaError:
                # No metrics: AQE replaced the observed subtree by an
                # empty relation. Repair anyway (CdcOrchestrator._account).
                n_dirty = None
            if n_dirty != 0:
                repaired = self._recompute_retracted(fold, extremes, any_dirty)
                repaired.write.mode("overwrite").parquet(path)
        self._save_ckpt(rng.checkpoint(state_rel=state_rel), first=rng.ck is None)
        self._prune_old_states(
            keep=(state_rel, rng.ck["state_rel"] if rng.ck else None)
        )
        return self.state()

    def _prune_old_states(self, keep: tuple) -> None:
        # keep the new state and its predecessor (crash window); prune rest
        for name in self.fs.listdir(self.state_dir):
            if name.startswith("state-b") and name not in keep:
                self.fs.rmtree(os.path.join(self.state_dir, name))
