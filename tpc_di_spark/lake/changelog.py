"""Incremental changelog reads — the "binlog OUT" side of the engine.

A CDC engine is not just a sink: downstream consumers (feature
pipelines, index builders, replica syncs) need "what changed in batch
B / since batch B" without re-scanning the table. This module provides
Iceberg-style incremental reads over the LakeTable snapshot log:

- ``rows_created_in(table, batch_id)`` — every row VERSION the batch
  created (still-current rows and versions later closed alike: the
  ``batch_id`` lineage column stamps the creating batch). File-level
  data skipping uses the per-file ``batch_id`` [min, max] ranges the
  orchestrator records at write time (``Snapshot.file_stats``): only
  files whose range covers the batch are scanned, and the residual
  row filter also pushes down to parquet row-group stats. History
  files are append-only, so for an old batch the scan set is "that
  batch's history appends + the live current family" — never the full
  lineage.
- ``rows_closed_in(table, batch_id)`` — the versions the batch
  EXPIRED (the delete/update tombstone stream). Closed versions land
  in history files written by the closing batch's commit tag, so this
  is a pure path-prefix file selection: zero scan waste.
- ``changed_keys_since(table, batch_id)`` — distinct business keys
  touched after a checkpoint batch: the handshake a downstream
  incremental consumer needs to re-pull just the affected
  conversations.

Reference parity note: TPC-DI has no changelog consumer — its
incremental batches are INPUTS only (`Incremental1/*.py` read Batch2
extracts). This is the capability a lake-resident CDC engine adds on
top: the applied change stream is itself queryable, per batch, without
replay.
"""

from __future__ import annotations

import os
import re

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from tpc_di_spark.lake.table import LakeTable, Snapshot


def _all_rels(snap: Snapshot) -> list[str]:
    return [
        rel
        for fmap in (snap.files, snap.hist_files)
        for fl in fmap.values()
        for rel in fl
    ]


def files_for_batch(table: LakeTable, batch_id: int, snapshot: Snapshot | None = None) -> list[str]:
    """Table-relative paths whose batch_id range may contain ``batch_id``
    (the data-skipping candidate set; files without stats are kept)."""
    snap = snapshot or table.snapshot
    out = []
    for rel in _all_rels(snap):
        mm = snap.file_stats.get(rel)
        if mm is None or (mm[0] <= batch_id <= mm[1]):
            out.append(rel)
    return out


def rows_created_in(
    table: LakeTable, batch_id: int, snapshot: Snapshot | None = None
) -> DataFrame:
    """All row versions created by ``batch_id`` (insert/update images)."""
    snap = snapshot or table.snapshot
    rels = files_for_batch(table, batch_id, snap)
    if not rels:
        return table.spark.createDataFrame([], snap.schema)
    paths = [os.path.join(table.path, rel) for rel in rels]
    return table.read_files(paths, snapshot=snap).filter(
        F.col("batch_id") == batch_id
    )


def hist_files_of_commit_tag(
    table: LakeTable, batch_id: int, snapshot: Snapshot | None = None
) -> list[str]:
    """History files APPENDED by ``batch_id``'s commit (CoW tag
    ``batch-XXXXXX/`` or MoR-compaction tag ``compact-delta-XXXXXX/``) —
    exactly the versions that batch closed, by construction of the
    append-only history family."""
    snap = snapshot or table.snapshot
    prefixes = (
        os.path.join("data", f"batch-{batch_id:06d}") + os.sep,
        os.path.join("data", f"compact-delta-{batch_id:06d}") + os.sep,
    )
    return [
        rel
        for fl in snap.hist_files.values()
        for rel in fl
        if rel.startswith(prefixes)
    ]


def rows_closed_in(
    table: LakeTable,
    batch_id: int,
    snapshot: Snapshot | None = None,
    include_tombstones: bool = False,
    strict: bool = False,
) -> DataFrame:
    """The versions ``batch_id`` expired (before-images of updates and
    deletes): the history files its commit appended. Pure file
    selection — no scan of anything else.

    Delete TOMBSTONES (a 'D' that matched no current row; ``batch_id =
    -batch`` markers, see ``cdc/apply.py``) are excluded by default:
    no version was expired, so they are not before-images — a consumer
    counting closes against creates would otherwise go negative. Pass
    ``include_tombstones=True`` to see them (e.g. replica-sync
    consumers that mirror every delete event).

    A later compaction may rewrite those history files under its own
    tag; in that case this falls back to the SNAPSHOT that committed the
    batch (time travel — the original files stay on disk, referenced by
    that snapshot, until ``expire_snapshots`` drops it). The changelog
    retention window therefore equals the snapshot retention window,
    exactly Iceberg's incremental-read rule."""
    snap = snapshot or table.snapshot
    rels = hist_files_of_commit_tag(table, batch_id, snap)
    resolved = bool(rels) or batch_id not in snap.committed_batches
    if not rels and batch_id in snap.committed_batches:
        # Newest-first, stopping at the first snapshot that actually
        # APPENDED this batch's closes. For a CoW batch that is the
        # ``summary.batch_id``-stamped apply snapshot; for a merge-on-read
        # batch the batch_id-stamped snapshot is the DELTA APPEND (no
        # closes yet — matching it alone silently dropped every MoR
        # batch's closes once a later full compaction rewrote the range
        # tags): the closes land in the later ``compact-delta`` snapshot,
        # stamped with ``summary.delta_batch``.
        for h in reversed(table.history()):
            s = h["summary"]
            if s.get("batch_id") == batch_id or (
                s.get("operation") == "compact-delta"
                and s.get("delta_batch") == batch_id
            ):
                # Found the committing snapshot: its (possibly empty)
                # hist delta is the EXACT close set for this batch.
                resolved = True
                committing = table.read_snapshot(h["snapshot_id"])
                rels = hist_files_of_commit_tag(table, batch_id, committing)
                if rels:
                    break
    if strict and not resolved:
        # The committing snapshot was expired AND a rewrite erased the
        # tags: an empty answer here would be indistinguishable from
        # "closed nothing" — callers whose correctness depends on the
        # close set (late-batch supersession: a missed close would
        # resurrect a newer delete) must fail instead.
        raise ValueError(
            f"batch {batch_id}'s close set is unrecoverable: its closing "
            "tags were rewritten by compaction and its committing snapshot "
            "was expired (the changelog retention window has passed)"
        )
    if not rels:
        return table.spark.createDataFrame([], snap.schema)
    paths = [os.path.join(table.path, rel) for rel in rels]
    out = table.read_files(paths, snapshot=snap)
    if not include_tombstones:
        out = out.filter(F.col("batch_id") >= 0)
    return out


def rows_created_since(
    table: LakeTable,
    after_batch_id: int,
    snapshot: Snapshot | None = None,
    upto_batch_id: int | None = None,
) -> DataFrame:
    """All row versions created by batches AFTER ``after_batch_id`` (and,
    when ``upto_batch_id`` is given, at or below it) — the one-scan range
    form of :func:`rows_created_in` (file-skipped via the per-file
    batch_id stats; versions later closed are included, read from their
    history files)."""
    snap = snapshot or table.snapshot
    rels = [
        rel
        for rel in _all_rels(snap)
        if (mm := snap.file_stats.get(rel)) is None
        or (mm[1] > after_batch_id and (upto_batch_id is None or mm[0] <= upto_batch_id))
    ]
    if not rels:
        return table.spark.createDataFrame([], snap.schema)
    paths = [os.path.join(table.path, rel) for rel in rels]
    out = table.read_files(paths, snapshot=snap).filter(
        F.col("batch_id") > after_batch_id
    )
    if upto_batch_id is not None:
        out = out.filter(F.col("batch_id") <= upto_batch_id)
    return out


def rows_closed_since(
    table: LakeTable,
    after_batch_id: int,
    snapshot: Snapshot | None = None,
    upto_batch_id: int | None = None,
    include_tombstones: bool = False,
) -> DataFrame:
    """The versions EXPIRED by batches after ``after_batch_id`` — the
    one-scan range form of :func:`rows_closed_in`, by closing-commit path
    tag. PRECONDITION: no compaction/rebucket has rewritten history files
    since ``after_batch_id`` was committed (rewrites erase the closing
    tags); callers that cannot guarantee it must loop
    :func:`rows_closed_in` per batch, which recovers exactness through
    the committing snapshot (see ``lake/incremental_agg.py``). Delete
    tombstones are excluded by default, as in :func:`rows_closed_in`."""
    snap = snapshot or table.snapshot
    rels = [
        rel
        for fl in snap.hist_files.values()
        for rel in fl
        if (b := _closing_batch_of(rel)) is not None
        and b > after_batch_id
        and (upto_batch_id is None or b <= upto_batch_id)
    ]
    if not rels:
        return table.spark.createDataFrame([], snap.schema)
    paths = [os.path.join(table.path, rel) for rel in rels]
    out = table.read_files(paths, snapshot=snap)
    if not include_tombstones:
        out = out.filter(F.col("batch_id") >= 0)
    return out


# \d+ not \d{6}: tags are %06d-formatted, i.e. ZERO-PADDED TO AT LEAST
# six digits — batch ids >= 10^6 (the streaming tail's base_batch_id
# epochs) produce 7+ digit tags, and a fixed-width match silently
# classified their history files as "closing batch unknown", dropping
# them from every range read.
_TAG_RE = re.compile(r"data/(?:batch|compact-delta)-(\d+)/")


def _closing_batch_of(rel: str) -> int | None:
    m = _TAG_RE.search(rel.replace(os.sep, "/"))
    return int(m.group(1)) if m else None


def changed_keys_since(
    table: LakeTable, after_batch_id: int, snapshot: Snapshot | None = None
) -> DataFrame:
    """Distinct business keys touched after the checkpoint batch.

    A key is "touched" when a version was CREATED after the checkpoint
    (insert/update — ``batch_id > after``, file-skipped via the max side
    of the stats) OR a version was CLOSED after it (a pure delete creates
    no new version, so the closed row still carries its original
    batch_id; those are found by the history files' closing-batch commit
    tags — pure file selection). Delete TOMBSTONES ride the closed side
    deliberately: a delete that matched nothing still touched its key,
    and a snapshot-handover consumer must see it or it will resurrect
    the row (``CdcOrchestrator.apply_snapshot_batch``).

    RETENTION GUARD: a compaction/rebucket that has already rewritten a
    closing batch's history files erases its ``batch-``/``compact-delta-``
    path tag (the rewrite carries a ``compact-``/``rebucket-`` tag with no
    closing batch id). Those files are treated as "closing batch UNKNOWN"
    and included in the scan set — a safe over-approximation (a consumer
    re-pulls some unchanged keys; it never misses a deleted one). The
    exact answer still requires checkpointing at least as often as
    compaction — the same retention contract as Iceberg incremental
    reads; ``rows_closed_in`` can recover per-batch exactness via the
    committing snapshot."""
    snap = snapshot or table.snapshot
    created_rels = [
        rel
        for rel in _all_rels(snap)
        if (mm := snap.file_stats.get(rel)) is None or mm[1] > after_batch_id
    ]
    closed_rels = [
        rel
        for fl in snap.hist_files.values()
        for rel in fl
        if (b := _closing_batch_of(rel)) is None or b > after_batch_id
    ]

    def keys_of(paths: list[str], flt=None) -> DataFrame | None:
        if not paths:
            return None
        df = table.read_files(
            [os.path.join(table.path, rel) for rel in paths], snapshot=snap
        )
        if flt is not None:
            df = df.filter(flt)
        return df.select(*snap.key_cols)

    created = keys_of(created_rels, F.col("batch_id") > after_batch_id)
    closed = keys_of(closed_rels)
    if created is None and closed is None:
        from pyspark.sql.types import StructType

        key_schema = StructType(
            [f for f in snap.schema.fields if f.name in snap.key_cols]
        )
        return table.spark.createDataFrame([], key_schema)
    out = created if closed is None else (closed if created is None else created.unionByName(closed))
    return out.distinct()


def changed_keys_since_exact(table: LakeTable, after_batch_id: int) -> DataFrame:
    """EXACT set of keys changed by batches with id > ``after_batch_id``
    (the late-batch supersession set, ``CdcOrchestrator.apply_late_batch``).

    :func:`changed_keys_since` is the fast path, but it OVER-approximates
    once a compaction/rebucket erased closing tags ("closing batch
    unknown" files are included) — safe for consumers that merely
    re-pull extra keys, WRONG where membership DROPS events
    (over-approximation = data loss). When such a rewrite exists, the
    set is rebuilt per batch instead: created keys from row-level
    batch_id (exact across compaction) plus closed keys from each batch's
    committing snapshot (time travel; ``strict=True`` raises when
    retention has expired it — a missed close would resurrect a newer
    delete, so "repair window passed" must be an error, not a silent
    wrong answer)."""
    key = list(table.key_cols)
    # Gate the fast path STRUCTURALLY, not via retained snapshot
    # history: a compaction erases closing tags from the files it
    # rewrites, and once expire_snapshots drops the compaction
    # snapshot the history-based trigger goes blind — the fast path
    # would then include unknown-closing-tag files wholesale and
    # wrongly supersede (silently drop) legitimate late events. Any
    # history file whose rel carries no closing-batch tag forces the
    # exact per-batch reconstruction, regardless of what history
    # still shows.
    tags_intact = all(
        _closing_batch_of(rel) is not None
        for fl in table.snapshot.hist_files.values()
        for rel in fl
    )
    if tags_intact:
        return changed_keys_since(table, after_batch_id).select(*key)
    touched = None
    for b in sorted(table.snapshot.committed_batches):
        if b <= after_batch_id:
            continue
        part = rows_created_in(table, b).select(*key).unionByName(
            rows_closed_in(table, b, include_tombstones=True, strict=True).select(*key)
        )
        touched = part if touched is None else touched.unionByName(part)
    if touched is None:  # nothing committed after the checkpoint
        return table.read(family="current").select(*key).limit(0)
    return touched.distinct()
