"""Declarative incremental materialized views over the changelog — the
generalization of the per-conversation stats consumer into the engine's
materialized-view story: declare key columns + a list of aggregate specs,
and the view is kept EXACTLY equal to the same aggregation over the
table's full lineage while reading only each refresh's changed rows.

This is the operator a 100-TB pipeline user reaches for weekly (rollup
marts, feature tables, per-tenant usage counters): a full recompute scans
the whole fact table per refresh; this refresh costs one file-skipped
changelog scan of the unconsumed batch range plus one key-partitioned
join against the state — O(changed + state), independent of table age.
TPC-DI has no changelog consumer at all (its incremental batches are
inputs only, `Incremental1/*.py`); the closest published analogues are
Materialize/DBSP-style incremental view maintenance and Iceberg's
incremental reads, rebuilt here on the LakeTable snapshot log.

Supported aggregate kinds (all distributive and — where live-set
semantics require it — INVERTIBLE, the property that makes exact
maintenance under updates/deletes possible without per-key row state):

- ``count_live``            — live row count: Σ created − Σ closed.
- ``sum_live(expr)``        — Σ expr over live rows: add created
  versions' values, subtract closed versions' values (an update nets to
  new − old because the old version closes in the same batch).
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
  the table's live file family (bucket/column-pruned scan of the dirty
  groups' rows — zero extra cost on refreshes whose closes never touch
  an extreme). Exactness requires the live family to BE the state at
  the consumed batch; the one interleaving that breaks this (a CoW
  batch committed above a pending merge-on-read horizon) is refused
  with an explicit error rather than silently drifting.

Non-goals, by design: count-distinct needs a sketch (see
operators/dedup.py for the hashing toolbox).

A key enters the state with its first created version and stays after
its last live row dies (its monotone counters still carry information);
filter ``count_live > 0`` at read time for live-only marts.

Checkpointing, the rollback guard, the merge-on-read horizon and the
compaction fallback are the shared consumer contract
(:class:`~tpc_di_spark.lake.changelog.ChangelogConsumer`, README
"Downstream fan-out"); this module adds the aggregate fold
(``ConvStatsConsumer`` is the fixed-spec original, kept as the q49
contract surface).
"""

from __future__ import annotations

import os
from typing import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.types import LongType, StructField, StructType

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
        # Aggregate output types come from a zero-row projection of the
        # table schema (the expression's natural Spark type).
        from pyspark.sql.types import DoubleType

        probe = self.table.spark.createDataFrame([], self.table.schema)
        agg_fields = []
        for kind, expr, name in self.aggs:
            if kind.startswith("count"):
                agg_fields.append(StructField(name, LongType(), False))
                continue
            t = probe.select(F.expr(expr).alias(name)).schema[0].dataType
            if kind == "avg_live":
                sum_t = probe.select(F.sum(F.expr(expr)).alias("s")).schema[0].dataType
                agg_fields.append(StructField(name, DoubleType(), True))
                agg_fields.append(StructField(f"_h_sum_{name}", sum_t, True))
                agg_fields.append(StructField(f"_h_n_{name}", LongType(), False))
            elif kind == "last_by_ts":
                ts_t = probe.select(F.col("ts")).schema[0].dataType
                agg_fields.append(StructField(name, t, True))
                agg_fields.append(StructField(f"_h_ts_{name}", ts_t, True))
                agg_fields.append(StructField(f"_h_b_{name}", LongType(), True))
            else:  # extremes (created or live)
                agg_fields.append(StructField(name, t, True))
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
        path = os.path.join(self.state_dir, ck["state_rel"])
        # LEGACY state dirs (written before the hidden membership column
        # existed) lack _versions_created. Reading them through the new
        # schema would NULL-fill it, and the membership filter would then
        # silently drop every key the next refresh doesn't touch —
        # permanent state loss. Detect via the files' real schema and
        # backfill a positive membership marker (only positivity matters).
        actual = self.table.spark.read.parquet(path)
        if _VC in actual.columns:
            return self.table.spark.read.schema(schema).parquet(path)
        legacy = StructType([f for f in schema.fields if f.name != _VC])
        return (
            self.table.spark.read.schema(legacy)
            .parquet(path)
            .withColumn(_VC, F.lit(1).cast("long"))
        )

    # -- refresh ------------------------------------------------------------

    def _keys_match(self, a: str, b: str) -> Column:
        """NULL-safe equality of every key column between the join sides
        aliased ``a`` and ``b``."""
        cond = F.lit(True)
        for k in self.key_cols:
            cond = cond & F.col(f"{a}.{k}").eqNullSafe(F.col(f"{b}.{k}"))
        return cond

    def _null_safe_outer(
        self, left: DataFrame, right: DataFrame, right_cols: list[str]
    ) -> DataFrame:
        """Full-outer join on the key columns with NULL-SAFE equality,
        coalescing the key columns in the output. A plain equi-join never
        matches NULL keys, so a view keyed on a nullable column (e.g.
        ``role``) would accumulate a duplicate NULL-key row per refresh
        instead of folding into one. Aggregation keys treat NULL as a
        value (SQL GROUP BY semantics) — the merge join must too."""
        l, r = left.alias("l"), right.alias("r")
        keys = [
            F.coalesce(F.col(f"l.{k}"), F.col(f"r.{k}")).alias(k)
            for k in self.key_cols
        ]
        left_cols = [
            F.col(f"l.{c}") for c in left.columns if c not in self.key_cols
        ]
        return l.join(r, self._keys_match("l", "r"), "full_outer").select(
            *keys, *left_cols, *[F.col(f"r.{c}") for c in right_cols]
        )

    def _delta_aggs(self, created: DataFrame, closed: DataFrame) -> DataFrame:
        """One aggregation over each side of the changelog range, joined
        into a per-key delta frame with ``_c_*`` / ``_d_*`` columns."""
        c_aggs = [F.count(F.lit(1)).alias("_c_n")]
        d_aggs, d_names = [F.count(F.lit(1)).alias("_d_n")], ["_d_n"]
        for kind, expr, name in self.aggs:
            if kind == "sum_live":
                c_aggs.append(F.sum(F.expr(expr)).alias(f"_c_{name}"))
                d_aggs.append(F.sum(F.expr(expr)).alias(f"_d_{name}"))
                d_names.append(f"_d_{name}")
            elif kind == "avg_live":
                c_aggs.append(F.sum(F.expr(expr)).alias(f"_c_s_{name}"))
                c_aggs.append(F.count(F.expr(expr)).alias(f"_c_k_{name}"))
                d_aggs.append(F.sum(F.expr(expr)).alias(f"_d_s_{name}"))
                d_aggs.append(F.count(F.expr(expr)).alias(f"_d_k_{name}"))
                d_names.extend([f"_d_s_{name}", f"_d_k_{name}"])
            elif kind == "last_by_ts":
                # Lexicographic struct MAX = arg-max over (ts, batch_id)
                # with value tie-break — one agg, deterministic.
                pack = F.struct(
                    F.col("ts").alias("o1"),
                    F.col("batch_id").cast("long").alias("o2"),
                    F.expr(expr).alias("v"),
                )
                c_aggs.append(F.max(pack).alias(f"_c_p_{name}"))
            elif kind in ("max_created", "max_live"):
                c_aggs.append(F.max(F.expr(expr)).alias(f"_c_{name}"))
                if kind == "max_live":
                    d_aggs.append(F.max(F.expr(expr)).alias(f"_d_{name}"))
                    d_names.append(f"_d_{name}")
            elif kind in ("min_created", "min_live"):
                c_aggs.append(F.min(F.expr(expr)).alias(f"_c_{name}"))
                if kind == "min_live":
                    d_aggs.append(F.min(F.expr(expr)).alias(f"_d_{name}"))
                    d_names.append(f"_d_{name}")
        c = created.groupBy(*self.key_cols).agg(*c_aggs)
        d = closed.groupBy(*self.key_cols).agg(*d_aggs)
        return self._null_safe_outer(c, d, d_names)

    def _merged_state(self, delta: DataFrame, live_provider=None) -> DataFrame:
        zero = F.lit(0).cast("long")
        cols = [F.col(k) for k in self.key_cols]
        cn = F.coalesce(F.col("_c_n"), zero)
        dn = F.coalesce(F.col("_d_n"), zero)
        dirty_specs: list[tuple[str, str, str]] = []  # (kind, expr, name)
        for kind, expr, name in self.aggs:
            old = F.col(name)
            if kind == "count_live":
                new = F.coalesce(old, zero) + cn - dn
            elif kind == "count_versions":
                new = F.coalesce(old, zero) + cn
            elif kind == "count_closed":
                new = F.coalesce(old, zero) + dn
            elif kind == "sum_live":
                # sum over an all-NULL (or absent) side is NULL — treat
                # as "no change", but keep a never-seen expr NULL (a
                # 0-started fold would manufacture a value for keys
                # whose expr was always NULL).
                change = F.coalesce(F.col(f"_c_{name}"), F.lit(0)) - F.coalesce(
                    F.col(f"_d_{name}"), F.lit(0)
                )
                new = F.when(
                    old.isNull() & F.col(f"_c_{name}").isNull()
                    & F.col(f"_d_{name}").isNull(),
                    F.lit(None),
                ).otherwise(F.coalesce(old, F.lit(0)) + change)
            elif kind == "avg_live":
                hs, hn = f"_h_sum_{name}", f"_h_n_{name}"
                old_s, old_n = F.col(hs), F.col(hn)
                cs, ds = F.col(f"_c_s_{name}"), F.col(f"_d_s_{name}")
                change_s = F.coalesce(cs, F.lit(0)) - F.coalesce(ds, F.lit(0))
                new_s = F.when(
                    old_s.isNull() & cs.isNull() & ds.isNull(), F.lit(None)
                ).otherwise(F.coalesce(old_s, F.lit(0)) + change_s)
                new_n = (
                    F.coalesce(old_n, zero)
                    + F.coalesce(F.col(f"_c_k_{name}"), zero)
                    - F.coalesce(F.col(f"_d_k_{name}"), zero)
                )
                cols.append(
                    F.try_divide(new_s.cast("double"), new_n).alias(name)
                )
                cols.append(new_s.alias(hs))
                cols.append(new_n.alias(hn))
                continue
            elif kind == "last_by_ts":
                ht, hb = f"_h_ts_{name}", f"_h_b_{name}"
                ch = F.col(f"_c_p_{name}")
                old_pack = F.struct(
                    F.col(ht).alias("o1"), F.col(hb).alias("o2"), old.alias("v")
                )
                take_new = ch.isNotNull() & (
                    F.col(ht).isNull() | (ch > old_pack)
                )
                cols.append(
                    F.when(take_new, ch.getField("v")).otherwise(old).alias(name)
                )
                cols.append(
                    F.when(take_new, ch.getField("o1")).otherwise(F.col(ht)).alias(ht)
                )
                cols.append(
                    F.when(take_new, ch.getField("o2")).otherwise(F.col(hb)).alias(hb)
                )
                continue
            elif kind in ("max_created", "max_live"):
                new = F.greatest(old, F.col(f"_c_{name}"))
                if kind == "max_live":
                    d = F.col(f"_d_{name}")
                    cols.append(
                        (d.isNotNull() & (new.isNull() | (d >= new)))
                        .alias(f"_dirty_{name}")
                    )
                    dirty_specs.append((kind, expr, name))
            else:  # min_created / min_live
                new = F.least(old, F.col(f"_c_{name}"))
                if kind == "min_live":
                    d = F.col(f"_d_{name}")
                    cols.append(
                        (d.isNotNull() & (new.isNull() | (d <= new)))
                        .alias(f"_dirty_{name}")
                    )
                    dirty_specs.append((kind, expr, name))
            cols.append(new.alias(name))
        cols.append((F.coalesce(F.col(_VC), zero) + cn).alias(_VC))
        delta_cols = [c for c in delta.columns if c not in self.key_cols]
        merged = (
            self._null_safe_outer(self._state_full(), delta, delta_cols)
            .select(*cols)
            # a key enters the view with its first created version
            # (delete events for never-seen keys are no-ops)
            .filter(F.col(_VC) > 0)
        )
        if not dirty_specs:
            return merged
        return self._recompute_retracted(merged, dirty_specs, live_provider)

    def _recompute_retracted(
        self, merged: DataFrame, dirty_specs, live_provider
    ) -> DataFrame:
        """max_live/min_live retraction repair: groups whose closed-side
        extreme tied-or-beat the candidate get their TRUE extreme
        recomputed from the live file family — only those groups' rows
        are aggregated (a column-pruned, group-filtered scan); groups
        untouched by a retraction never pay it."""
        any_dirty = None
        for _k, _e, name in dirty_specs:
            d = F.col(f"_dirty_{name}")
            any_dirty = d if any_dirty is None else (any_dirty | d)
        live = live_provider()
        dirty_keys = merged.filter(any_dirty).select(*self.key_cols).distinct()
        # Null-safe semi join: restrict the live scan to dirty groups.
        l, r = live.alias("l"), dirty_keys.alias("r")
        affected = l.join(r, self._keys_match("l", "r"), "left_semi")
        rec_aggs = [
            (F.max if kind == "max_live" else F.min)(F.expr(expr)).alias(
                f"_r_{name}"
            )
            for kind, expr, name in dirty_specs
        ]
        rec = affected.groupBy(
            *[F.col(f"l.{k}").alias(k) for k in self.key_cols]
        ).agg(*rec_aggs)

        m, rr = merged.alias("m"), rec.alias("rr")
        out_cols = []
        for c in merged.columns:
            if c.startswith("_dirty_"):
                continue
            name_match = next(
                (n for _k, _e, n in dirty_specs if n == c), None
            )
            if name_match is not None:
                out_cols.append(
                    F.when(
                        F.col(f"m._dirty_{c}"), F.col(f"rr._r_{c}")
                    ).otherwise(F.col(f"m.{c}")).alias(c)
                )
            else:
                out_cols.append(F.col(f"m.{c}").alias(c))
        return m.join(rr, self._keys_match("m", "rr"), "left").select(*out_cols)

    def refresh(self) -> DataFrame:
        """Catch the view up through every committed batch; returns it.
        Reads ONLY the changelog of the unconsumed batch range; calling
        again with nothing new committed is a no-op."""
        rng = self._plan()
        if not rng.pending:
            return self.state()

        live_provider = None
        if any(k in _LIVE_EXTREMES for k, _e, _n in self.aggs):
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
            live_provider = lambda: (  # noqa: E731
                self.table.read(family="current").filter(F.col("is_current"))
            )

        merged = self._merged_state(
            self._delta_aggs(rng.created(), rng.closed()), live_provider
        )
        state_rel = f"state-b{rng.upto:06d}"
        # One state file, partitioned by the view key: enough at test scale;
        # at 10^10 rows ~state_bytes/128MB files co-locate the refresh joins.
        merged.repartition(1, *self.key_cols).write.mode("overwrite").parquet(
            os.path.join(self.state_dir, state_rel)
        )
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
