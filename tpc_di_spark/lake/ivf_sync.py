"""ANN index freshness under CDC: an IVF cell-assignment index kept in
sync with an embedding table's change stream — the operator a
training-data platform runs continuously (ingest embeddings all day,
serve approximate-nearest-neighbor queries off an index that follows).

The reference has no vector story at all; the published analogues are
Milvus/Lucene segment syncs and Faiss IVF rebuild pipelines. Re-expressed
on this engine's own primitives:

- The INDEX is itself a :class:`~tpc_di_spark.lake.table.LakeTable`
  (key → ``centroid_id``), so index reads get snapshot isolation, time
  travel, bucket-pruned lookups and catalog pinning for free.
- Freshness is a changelog consumption loop (``lake/derived.py``): per
  refresh, ONLY the batch range's changed vectors are assigned to their
  nearest centroid (``operators/ivf.ivf_assign`` — broadcast nlist-row
  centroid table, exact-DECIMAL argmin) and merged; deleted embeddings
  delete their index rows. O(changed) distance work per refresh,
  independent of corpus size.
- **Drift metric**: the fraction of re-assigned vectors among updated
  vectors that were already indexed (an update that stays in its cell
  is benign; one that hops cells means the space is moving). The
  cumulative count since the last (re)train rides the checkpoint, and
  ``retrain_due`` flips when it passes ``retrain_threshold`` of the
  live index — the signal to schedule :meth:`retrain`.
- **Retrain** is the explicit O(corpus) operation: new centroids
  (given, or ``kmeans_fit`` on the live corpus), one full re-assignment
  applied through the same exactly-once merge, stale index keys
  deleted, drift counter reset. Refresh stays cheap; retrain is
  scheduled — the standard IVF operational split.

Exactly-once/restart inherits from the parent class: the index apply is
idempotent per batch id and the checkpoint (position + drift counter +
centroid pin) flips atomically after it.
"""

from __future__ import annotations

import json
import os
from typing import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from tpc_di_spark.lake.derived import DerivedTableSync
from tpc_di_spark.lake.table import LakeTable
from tpc_di_spark.operators.ivf import ivf_assign

_CENTROIDS = "centroids.json"


class IvfIndexSync(DerivedTableSync):
    """Keep ``index = ivf_assign(parent live vectors)`` fresh from the
    parent's changelog.

    ``parent``: embedding table (single-column key, ``vec_col`` array
    payload, ``ts``). ``index``: LakeTable keyed identically with columns
    ``(key, centroid_id int, ts)`` + lineage. ``centroids`` pin to the
    state dir on first use so a restarted sync indexes against the same
    space (a retrain replaces the pin).
    """

    def __init__(
        self,
        parent: LakeTable,
        index: LakeTable,
        state_dir: str,
        vec_col: str = "embedding",
        centroids: Sequence[Sequence[float]] | None = None,
        retrain_threshold: float = 0.2,
    ) -> None:
        if len(parent.key_cols) != 1:
            raise ValueError(
                f"IvfIndexSync needs a single-column key, got {parent.key_cols}"
            )
        super().__init__(parent, index, state_dir)
        self.key = parent.key_cols[0]
        self.vec_col = vec_col
        self.retrain_threshold = retrain_threshold
        cpath = os.path.join(state_dir, _CENTROIDS)
        if self.fs.exists(cpath):
            # The pinned space wins over the argument: a restarted sync
            # must keep assigning against the centroids the existing
            # index rows were assigned with.
            self.centroids = json.loads(self.fs.read_text(cpath))["centroids"]
        else:
            if centroids is None:
                raise ValueError(
                    "no pinned centroids in state_dir and none given — pass "
                    "centroids= (pseudo_centroids / kmeans_fit output)"
                )
            self.centroids = [[float(x) for x in c] for c in centroids]
            self.fs.write_text(cpath, json.dumps({"centroids": self.centroids}))
        # The drift observation of the refresh in flight, set by
        # _events and resolved by _after_apply.
        self._drift_obs = None

    # -- hooks into the changelog-consumption loop --------------------------

    def _events(self, fold: DataFrame, payload: list[str], upto: int) -> DataFrame:
        """Assign ONLY the range's changed live vectors (O(changed)
        exact-DECIMAL distance work), delete the index rows of every other
        folded key, and measure reassignment drift with one column-pruned
        scan of the index's (key, centroid_id).

        Drift accounting is a lazy :class:`~pyspark.sql.Observation`
        computed INSIDE the index apply's own merge job (the left join
        against the index's live (key, centroid_id) is one-row-per-key,
        so it cannot change event cardinality): the old eager
        ``agg().collect()`` here re-computed the whole changelog-
        derivation DAG one extra time per refresh. Resolution happens in
        :meth:`_after_apply`, before the checkpoint flip."""
        from pyspark.sql import Observation

        matched = fold.filter(F.col("_up"))
        assigned = ivf_assign(
            matched.select(self.key, self.vec_col), self.key, self.vec_col,
            self.centroids,
        ).select(self.key, "centroid_id")
        rows = assigned.join(matched.select(self.key, "batch_id", "ts"), self.key)

        prev = (
            self.child.read(family="current")
            .filter(F.col("is_current"))
            .select(F.col(self.key), F.col("centroid_id").alias("_prev"))
        )
        obs = Observation()
        observed = rows.join(prev, self.key, "left").observe(
            obs,
            F.count(F.lit(1)).alias("assigned"),
            F.sum(
                F.when(F.col("_prev").isNotNull(), 1).otherwise(0)
            ).alias("existed"),
            F.sum(
                F.when(
                    F.col("_prev").isNotNull()
                    & (F.col("_prev") != F.col("centroid_id")),
                    1,
                ).otherwise(0)
            ).alias("moved"),
        )
        self._drift_obs = obs
        upserts = observed.select(
            F.lit("I").alias("cdc_flag"),
            F.col("batch_id").cast("long").alias("cdc_dsn"),
            F.col(self.key),
            F.col("centroid_id"),
            F.col("ts"),
        )
        deletes = fold.filter(~F.col("_up")).select(
            F.lit("D").alias("cdc_flag"),
            F.lit(upto).cast("long").alias("cdc_dsn"),
            F.col(self.key),
            F.col("ts"),
        )
        return upserts.unionByName(deletes, allowMissingColumns=True)

    def _after_apply(self, out: dict, events: DataFrame, ck: dict | None) -> dict:
        """Resolve the drift observation once the apply's job has run,
        report it with the live index size, and carry the cumulative
        drift counter into the checkpoint. An already-committed (resumed)
        apply runs no job, so force one pass first — the observation
        would otherwise block forever."""
        obs, self._drift_obs = self._drift_obs, None
        if out["apply"].get("skipped"):
            events.count()
        s = obs.get
        moved = (ck or {}).get("moved_since_retrain", 0) + int(s["moved"] or 0)
        live = (
            self.child.refresh()
            .read(family="current")
            .filter(F.col("is_current"))
            .count()
        )
        out.update(
            assigned=s["assigned"],
            reassigned=int(s["moved"] or 0),
            reassigned_fraction=(s["moved"] or 0) / s["existed"] if s["existed"] else 0.0,
            moved_since_retrain=moved,
            index_live_rows=live,
            retrain_due=bool(live and moved / live >= self.retrain_threshold),
        )
        return {"moved_since_retrain": moved}

    # -- the explicit O(corpus) path ----------------------------------------

    def retrain(
        self,
        batch_id: int,
        centroids: Sequence[Sequence[float]] | None = None,
        kmeans_iters: int = 3,
    ) -> dict:
        """Re-space the index: new centroids (given, or ``kmeans_fit`` on
        the live corpus), full re-assignment of every live vector, stale
        index keys deleted — one exactly-once merge under ``batch_id``
        (caller reserves an id above the parent's batch range), then the
        centroid pin is replaced and the drift counter reset."""
        from tpc_di_spark.cdc.apply import current_state
        from tpc_di_spark.operators.ivf import kmeans_fit

        self.parent.refresh()
        live = current_state(self.parent)
        if centroids is None:
            centroids = kmeans_fit(
                live, self.key, self.vec_col, nlist=len(self.centroids),
                iters=kmeans_iters,
            )
        centroids = [[float(x) for x in c] for c in centroids]
        assigned = ivf_assign(live, self.key, self.vec_col, centroids).select(
            self.key, "centroid_id"
        )
        ups = assigned.join(live.select(self.key, "ts"), self.key).select(
            F.lit("I").alias("cdc_flag"),
            F.lit(batch_id).cast("long").alias("cdc_dsn"),
            F.col(self.key),
            F.col("centroid_id"),
            F.col("ts"),
        )
        stale = (
            self.child.refresh()
            .read(family="current")
            .filter(F.col("is_current"))
            .select(self.key, "ts")
            .join(live.select(self.key), self.key, "left_anti")
            .select(
                F.lit("D").alias("cdc_flag"),
                F.lit(batch_id).cast("long").alias("cdc_dsn"),
                F.col(self.key),
                F.col("ts"),
            )
        )
        rec = self.orch.apply_batch(
            ups.unionByName(stale, allowMissingColumns=True), batch_id=batch_id
        )
        self.centroids = centroids
        self.fs.replace_text(
            os.path.join(self.state_dir, _CENTROIDS),
            json.dumps({"centroids": centroids}),
        )
        ck = self._load_ckpt()
        if ck is not None:
            self._save_ckpt({**ck, "moved_since_retrain": 0}, first=False)
        return {"retrained": True, "nlist": len(centroids), "apply": rec}
