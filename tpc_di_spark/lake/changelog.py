"""Incremental changelog reads — the "binlog OUT" side of the engine.

A CDC engine is not just a sink: downstream consumers (feature
pipelines, index builders, replica syncs) need "what changed in these
batches" without re-scanning the table. This module answers it with
one reader per side, for any set of batch ids, over the LakeTable
snapshot log (Iceberg-style incremental reads):

- ``rows_created_in(table, batch_ids)`` — every row VERSION the batches
  created (still-current rows and versions later closed alike: the
  ``batch_id`` lineage column stamps the creating batch). One scan with
  ``batch_id IN ids``; file-level data skipping uses the per-file
  ``batch_id`` [min, max] ranges the orchestrator records at write time
  (``Snapshot.file_stats``), and the row filter also pushes down to
  parquet row-group stats. History files are append-only, so for old
  batches the scan set is "their history appends + the live current
  family" — never the full lineage.
- ``rows_closed_in(table, batch_ids)`` — the versions the batches
  EXPIRED (the delete/update tombstone stream). A closing commit writes
  its before-images under its own path tag (``batch-NNNNNN/``, or
  ``compact-delta-NNNNNN/`` for a materialized merge-on-read batch), so
  this is a pure path-tag file selection with one rule for where the
  tags are read (README "Downstream fan-out", *Exact close sets*): from
  the read snapshot while no compaction/rebucket followed the batch's
  commit — the rewrite re-tags the history files it touches — else from
  the batch's committing snapshot (time travel), and an error when
  neither can be proven (the changelog retention window has passed).
- ``changed_keys_since(table, batch_id)`` — distinct business keys
  created or closed by every committed batch above a checkpoint: the
  handshake of snapshot handover and late-batch repair.
- ``ChangelogConsumer`` / ``ChangelogRange`` — the one checkpoint →
  rollback guard → pending-set lifecycle behind every consumer
  (``IncrementalView``, ``DerivedTableSync``, ``IvfIndexSync``).

Reference parity note: TPC-DI has no changelog consumer — its
incremental batches are INPUTS only (`Incremental1/*.py` read Batch2
extracts). This is the capability a lake-resident CDC engine adds on
top: the applied change stream is itself queryable, per batch, without
replay.
"""

from __future__ import annotations

import json
import os
import re
from bisect import bisect_left
from collections.abc import Iterable
from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from tpc_di_spark.lake.table import LakeTable, Snapshot


def _ids(batch_ids: int | Iterable[int]) -> set[int]:
    return {batch_ids} if isinstance(batch_ids, int) else set(batch_ids)


def _ids_since(
    table: LakeTable, snapshot: Snapshot | None, after: int, upto: int | None = None
) -> set[int]:
    """The committed batch ids in ``(after, upto]``."""
    snap = snapshot or table.snapshot
    return {b for b in snap.committed_batches if after < b and (upto is None or b <= upto)}


def files_for_batch(
    table: LakeTable, batch_ids: int | Iterable[int], snapshot: Snapshot | None = None
) -> list[str]:
    """Table-relative paths whose batch_id range may contain one of
    ``batch_ids`` (the data-skipping candidate set; files without stats
    are kept)."""
    snap = snapshot or table.snapshot
    ids = sorted(_ids(batch_ids))
    return [
        rel
        for fmap in (snap.files, snap.hist_files)
        for fl in fmap.values()
        for rel in fl
        if (mm := snap.file_stats.get(rel)) is None
        or ((i := bisect_left(ids, mm[0])) < len(ids) and ids[i] <= mm[1])
    ]


def rows_created_in(
    table: LakeTable, batch_ids: int | Iterable[int], snapshot: Snapshot | None = None
) -> DataFrame:
    """All row versions created by ``batch_ids`` (insert/update images)."""
    snap = snapshot or table.snapshot
    ids = _ids(batch_ids)
    paths = [os.path.join(table.path, rel) for rel in files_for_batch(table, ids, snap)]
    return table.read_files(paths, snapshot=snap).filter(F.col("batch_id").isin(sorted(ids)))


# \d+ not \d{6}: tags are %06d-formatted, i.e. ZERO-PADDED TO AT LEAST
# six digits — batch ids >= 10^6 (the streaming tail's base_batch_id
# epochs) produce 7+ digit tags, and a fixed-width match silently
# classified their history files as "closing batch unknown", dropping
# them from every close read.
_TAG_RE = re.compile(r"data/(?:batch|compact-delta)-(\d+)/")
# compaction (``compact-<snapshot id>-<ts>``) and rebucket tags; a
# ``compact-delta-NNNNNN`` tag is a closing tag, not a rewrite.
_REWRITE_RE = re.compile(r"data/(?:compact-\d+-|rebucket-)")


def _closing_batch_of(rel: str) -> int | None:
    m = _TAG_RE.search(rel.replace(os.sep, "/"))
    return int(m.group(1)) if m else None


def hist_files_of_commit_tag(
    table: LakeTable, batch_ids: int | Iterable[int], snapshot: Snapshot | None = None
) -> list[str]:
    """History files APPENDED by the commits of ``batch_ids`` (CoW tag
    ``batch-NNNNNN/`` or MoR-compaction tag ``compact-delta-NNNNNN/``) —
    exactly the versions those batches closed, by construction of the
    append-only history family, while no rewrite has re-tagged them."""
    snap = snapshot or table.snapshot
    ids = _ids(batch_ids)
    return [
        rel for fl in snap.hist_files.values() for rel in fl if _closing_batch_of(rel) in ids
    ]


def _rewrite_followed(table: LakeTable, ids: set[int], snap: Snapshot) -> dict[int, int]:
    """The close-set rule: for each committed id in ``ids`` whose commit a
    compaction or rebucket followed, the id of its NEWEST committing
    snapshot — the ``summary.batch_id``-stamped apply, or for a
    merge-on-read batch the ``compact-delta`` snapshot stamped with
    ``summary.delta_batch`` (the delta append itself closes nothing).

    Two proofs that no rewrite followed a commit: STRUCTURAL — no history
    file of the read snapshot sits under a rewrite tag, so every closing
    tag is intact (the steady state: no ``history()`` walk) — and
    HISTORICAL — the committing snapshot is still in ``history()`` with
    no rewrite after it. An id with neither proof raises: an empty
    answer would be indistinguishable from "closed nothing", and a
    missed close resurrects a deleted row downstream."""
    ids = ids & set(snap.committed_batches)
    if not ids or not any(
        _REWRITE_RE.search(rel.replace(os.sep, "/"))
        for fl in snap.hist_files.values()
        for rel in fl
    ):
        return {}
    followed: dict[int, int] = {}
    seen: set[int] = set()
    rewrite = False
    for h in reversed(table.history()):
        if h["snapshot_id"] > snap.snapshot_id:
            continue
        s = h["summary"]
        op = s.get("operation")
        rewrite = rewrite or op in ("compact", "rebucket")
        b = s.get("delta_batch") if op == "compact-delta" else s.get("batch_id")
        if b in ids and b not in seen:
            seen.add(b)
            if rewrite:
                followed[b] = h["snapshot_id"]
            if seen == ids:
                return followed
    lost = sorted(ids - seen)
    raise ValueError(
        f"the close set of batches {lost} is unrecoverable: a compaction or "
        "rebucket may have rewritten their closing tags and their committing "
        "snapshots were expired (the changelog retention window has passed)"
    )


def _close_files(table: LakeTable, ids: set[int], snap: Snapshot) -> list[str]:
    """The files holding the versions ``ids`` closed: each id's closing
    tags in the read snapshot, or in its committing snapshot when a
    rewrite followed it (:func:`_rewrite_followed`)."""
    followed = _rewrite_followed(table, ids, snap)
    rels = hist_files_of_commit_tag(table, ids - followed.keys(), snap)
    for b, sid in followed.items():
        rels += hist_files_of_commit_tag(table, b, table.read_snapshot(sid))
    return rels


def rows_closed_in(
    table: LakeTable,
    batch_ids: int | Iterable[int],
    snapshot: Snapshot | None = None,
    include_tombstones: bool = False,
) -> DataFrame:
    """The versions ``batch_ids`` expired (before-images of updates and
    deletes): the history files their commits appended, read from the
    snapshot the close-set rule picks per batch. Pure file selection —
    no scan of anything else. The changelog retention window therefore
    equals the snapshot retention window once the table was compacted
    or rebucketed, exactly Iceberg's incremental-read rule.

    Delete TOMBSTONES (a 'D' that matched no current row; ``batch_id =
    -batch`` markers, see ``cdc/apply.py``) are excluded by default:
    no version was expired, so they are not before-images — a consumer
    counting closes against creates would otherwise go negative. Pass
    ``include_tombstones=True`` to see them (e.g. replica-sync
    consumers that mirror every delete event)."""
    snap = snapshot or table.snapshot
    rels = _close_files(table, _ids(batch_ids), snap)
    out = table.read_files([os.path.join(table.path, rel) for rel in rels], snapshot=snap)
    return out if include_tombstones else out.filter(F.col("batch_id") >= 0)


def rows_created_since(
    table: LakeTable, after_batch_id: int, snapshot: Snapshot | None = None,
    upto_batch_id: int | None = None,
) -> DataFrame:
    """:func:`rows_created_in` over the committed ids in ``(after, upto]``."""
    ids = _ids_since(table, snapshot, after_batch_id, upto_batch_id)
    return rows_created_in(table, ids, snapshot)


def rows_closed_since(
    table: LakeTable, after_batch_id: int, snapshot: Snapshot | None = None,
    upto_batch_id: int | None = None, include_tombstones: bool = False,
) -> DataFrame:
    """:func:`rows_closed_in` over the committed ids in ``(after, upto]``."""
    ids = _ids_since(table, snapshot, after_batch_id, upto_batch_id)
    return rows_closed_in(table, ids, snapshot, include_tombstones)


def changed_keys_since(
    table: LakeTable, after_batch_id: int, snapshot: Snapshot | None = None
) -> DataFrame:
    """EXACT set of distinct business keys touched by the committed
    batches after the checkpoint batch — the supersession set of
    late-batch repair (``CdcOrchestrator.apply_late_batch``) and the
    drop set of snapshot handover (``apply_snapshot_batch``).

    A key is "touched" when one of those batches CREATED a version
    (insert/update) or CLOSED one: a pure delete creates no new version,
    so the closed row still carries its original batch_id and only the
    closed side finds it. Delete TOMBSTONES ride the closed side
    deliberately: a delete that matched nothing still touched its key,
    and a handover or late batch must see it or it will resurrect the
    row. Exact across compaction within snapshot retention; past it the
    close-set rule raises instead of over- or under-approximating."""
    snap = snapshot or table.snapshot
    ids = _ids_since(table, snap, after_batch_id)
    key = snap.key_cols
    return (
        rows_created_in(table, ids, snap).select(*key)
        .unionByName(rows_closed_in(table, ids, snap, include_tombstones=True).select(*key))
        .distinct()
    )


# -- the consumer core --------------------------------------------------------
# Every changelog consumer (IncrementalView / ConvStatsConsumer,
# DerivedTableSync / IvfIndexSync) runs the same lifecycle: load the
# checkpoint, guard against rollbacks, plan the unconsumed batch range
# below the MoR horizon, fold that range into its own state, then flip the
# checkpoint. The contract is documented once, in README "Downstream
# fan-out"; consumers supply only their fold.

CKPT_FILE = "_ckpt.json"


def consumed_batch_set(ck: dict | None, committed: list[int]) -> set[int]:
    """The batch ids a consumer has already folded into its state.

    Checkpoints record the explicit SET, not just the max: out-of-order
    tail repair (``CdcOrchestrator.apply_late_batch``) can commit a batch
    id BELOW a consumer's watermark, and a max-only checkpoint would skip
    it forever — silent divergence from recompute. Legacy max-only
    checkpoints reconstruct the set as every committed id at-or-below the
    recorded max (exact unless a late batch landed before the first
    refresh under set-aware code)."""
    if ck is None:
        return set()
    if "consumed" in ck:
        return set(ck["consumed"])
    return {b for b in committed if b <= ck["batch_id"]}


def check_rollback_invalidations(
    table: LakeTable, ck: dict | None, consumed: set[int]
) -> int:
    """The one rollback guard: refuse when a rollback removed a batch the
    consumer already folded. Two cases, one check:

    - the id is no longer committed (``consumed ⊄ committed``);
    - a corrected batch has since RE-APPLIED under the same id, so the id
      is committed again and the consumer would skip it as consumed while
      keeping the POISONED effects. ``rollback_to`` appends every
      rollback's removed ids to the table's ``rollback.invalidations``
      log; the checkpoint records how many entries it has seen.

    Returns the current log length for the next checkpoint."""
    invs = table.snapshot.properties.get("rollback.invalidations", [])
    removed = consumed - set(table.snapshot.committed_batches)
    for inv in invs[(ck or {}).get("rollback_epoch", 0):]:
        removed.update(inv.get("removed_batches", []))
    hit = sorted(consumed & removed)
    if hit:
        raise ValueError(
            f"table was rolled back past consumed batches {hit} (and "
            "possibly re-applied under the same ids): this consumer's "
            "state includes the rolled-back effects while the table's "
            "lineage replaced them — delete the consumer's state dir (and "
            "a derived child table) and rebuild (rollback_to docs)"
        )
    return len(invs)


@dataclass(frozen=True)
class ChangelogRange:
    """One refresh's unconsumed committed batches, ``pending`` (empty when
    the consumer is up to date), and their exact changelog. ``pending``
    may be non-contiguous with the consumed set (a late batch below the
    watermark, ``apply_late_batch``): every read names exactly its ids."""

    table: LakeTable
    snap: Snapshot
    ck: dict | None
    consumed: frozenset[int]
    pending: tuple[int, ...]
    pending_mor: tuple[int, ...]
    rollback_epoch: int

    @property
    def last(self) -> int:
        return max(self.consumed) if self.consumed else 0

    @property
    def upto(self) -> int:
        return self.pending[-1]

    @property
    def fallback(self) -> bool:
        """Whether some pending batch's closes are read from its committing
        snapshot (a compaction or rebucket followed its commit)."""
        return bool(_rewrite_followed(self.table, set(self.pending), self.snap))

    def created(self) -> DataFrame:
        """Every row version the pending batches created."""
        return rows_created_in(self.table, self.pending, self.snap)

    def closed(self) -> DataFrame:
        """Every version the pending batches closed — exact: an
        over-approximated close would retract a live, untouched row."""
        return rows_closed_in(self.table, self.pending, self.snap)

    def checkpoint(self, **extras) -> dict:
        """The checkpoint body after folding this range, plus the
        consumer's own fields (``state_rel``, ``moved_since_retrain``)."""
        return {
            "batch_id": self.upto,
            "snapshot_id": self.snap.snapshot_id,
            **extras,
            "consumed": sorted(self.consumed | set(self.pending)),
            "rollback_epoch": self.rollback_epoch,
        }


class ChangelogConsumer:
    """Checkpoint I/O and range planning for a consumer of ``source``'s
    changelog; subclasses fold :meth:`_plan`'s range into their state and
    flip the checkpoint with :meth:`_save_ckpt`."""

    def __init__(self, source: LakeTable, state_dir: str) -> None:
        self.source = source
        self.state_dir = state_dir
        self.fs = source.fs
        self.fs.makedirs(state_dir)

    def _ckpt_path(self) -> str:
        return os.path.join(self.state_dir, CKPT_FILE)

    def _load_ckpt(self) -> dict | None:
        if not self.fs.exists(self._ckpt_path()):
            return None
        return json.loads(self.fs.read_text(self._ckpt_path()))

    def _save_ckpt(self, body: dict, first: bool) -> None:
        """Flip the checkpoint atomically (rename on POSIX, conditional
        PUT on object stores) — the consumer's commit point."""
        text = json.dumps(body)
        if first and not self.fs.exists(self._ckpt_path()):
            self.fs.write_text(self._ckpt_path(), text)
        else:
            self.fs.replace_text(self._ckpt_path(), text)

    def _plan(self) -> ChangelogRange:
        """Refresh the source, guard, and plan every committed batch below
        the merge-on-read MATERIALIZATION HORIZON: a pending delta batch's
        rows are invisible to the changelog until compaction materializes
        them, so consumption stops at the oldest one."""
        from tpc_di_spark.cdc.mor import pending_delta_batches

        self.source.refresh()
        snap = self.source.snapshot
        committed = sorted(snap.committed_batches)
        ck = self._load_ckpt()
        consumed = consumed_batch_set(ck, committed)
        epoch = check_rollback_invalidations(self.source, ck, consumed)
        pending_mor = [d["batch_id"] for d in pending_delta_batches(self.source)]
        horizon = min(pending_mor) if pending_mor else None
        pending = [
            b
            for b in committed
            if b not in consumed and (horizon is None or b < horizon)
        ]
        return ChangelogRange(
            table=self.source,
            snap=snap,
            ck=ck,
            consumed=frozenset(consumed),
            pending=tuple(pending),
            pending_mor=tuple(pending_mor),
            rollback_epoch=epoch,
        )
