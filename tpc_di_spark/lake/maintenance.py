"""LakeTable maintenance: small-file compaction and snapshot expiry.

Copy-on-write MERGE keeps bucket file counts bounded per commit, but a
long replay accumulates history rows and (on mostly-append workloads)
many small files per bucket. Compaction rewrites chosen buckets into one
file each — through the same atomic commit path, so readers never see a
half-compacted table and time travel to pre-compaction snapshots still
works until they are expired.
"""

from __future__ import annotations

import os
import re
import time

import pyspark.sql.functions as F

from tpc_di_spark.lake.table import LakeTable, _atomic_write

# %08d zero-pads to AT LEAST 8 — match \d+, not a fixed width (the same
# trap the changelog tag regex hit with 7-digit streaming batch ids).
_SNAP_RE = re.compile(r"snap-(\d+)\.json")
_WAP_SNAP_RE = re.compile(r"snap-(\d+)-wap-(.+)\.json")


def compact(
    table: LakeTable,
    max_files_per_bucket: int = 4,
    buckets: list[int] | None = None,
) -> dict:
    """Rewrite every bucket holding more than ``max_files_per_bucket``
    files (or an explicit bucket list) into freshly clustered files."""
    snap = table.snapshot
    n_files = {
        b: len(snap.files.get(b, [])) + len(snap.hist_files.get(b, []))
        for b in set(snap.files) | set(snap.hist_files)
    }
    targets = (
        [str(b) for b in buckets]
        if buckets is not None
        else [b for b, n in n_files.items() if n > max_files_per_bucket]
    )
    if not targets:
        return {"compacted_buckets": 0, "files_before": 0, "files_after": 0}
    files_before = sum(n_files.get(b, 0) for b in targets)
    df = table.with_bucket(table.read(buckets=targets))
    tag = f"compact-{snap.snapshot_id:08d}-{int(time.time())}"
    # The writer's family split keeps immutable history rows out of the
    # current files (the merge-scan invariant).
    new_files, new_hist = table.write_data_files(df, tag)
    table.commit(
        new_files_by_bucket=new_files,
        mode="replace",
        replaced_buckets=targets,
        append_hist_by_bucket=new_hist,
        replace_hist=True,
        new_file_stats=table.footer_stats(new_files, new_hist)[1],
        summary={"operation": "compact", "buckets": len(targets)},
    )
    files_after = sum(len(fl) for fl in new_files.values()) + sum(
        len(fl) for fl in new_hist.values()
    )
    return {
        "compacted_buckets": len(targets),
        "files_before": files_before,
        "files_after": files_after,
    }


def expire_snapshots(
    table: LakeTable,
    keep_last: int = 2,
    min_age_seconds: float = 0.0,
    keep_snapshot_ids: set | None = None,
) -> dict:
    """Drop snapshot metadata older than the last ``keep_last`` and delete
    data files no snapshot references anymore (orphans from compaction /
    replaced buckets). The current snapshot is never touched.

    Refreshes the handle first: the keep set must derive from the on-disk
    current snapshot, or a stale handle would treat files referenced only
    by newer snapshots (including the actual current one) as orphans and
    permanently delete live data.

    CONCURRENCY: the refresh + post-scan snapshot-id guard protects
    against commits that *complete* around the delete loop, but a writer
    mid-commit has already written data files that no snapshot references
    *yet* — to a same-instant expiry they are indistinguishable from
    orphans. Either serialize expiry with writers (the orchestrator's
    single-writer model does this for free), or pass ``min_age_seconds``
    greater than the longest possible commit duration: files younger than
    that are skipped via ``TableFS.mtime`` (Iceberg's orphan-file min-age
    rule; LastModified on object stores).

    ``keep_snapshot_ids`` extends the keep set with externally-referenced
    snapshots — pass ``Catalog.referenced_snapshot_ids(name)`` so pinned
    catalog versions stay readable (Iceberg's branch-ref retention rule;
    lake/catalog.py documents the contract from the catalog side)."""
    table.refresh()
    history = table.history()
    keep_ids = {h["snapshot_id"] for h in history[-keep_last:]}
    keep_ids.add(table.snapshot.snapshot_id)
    meta = os.path.join(table.path, "_meta")
    # External refs (catalog pins): honor any whose snapshot file still
    # exists; refs expired before this policy was applied are ignored
    # rather than resurrected. Existence is probed DIRECTLY on disk — the
    # parent-chain walk (``history()``) truncates at holes left by
    # earlier ref-keeping expiries (non-contiguous keeps), so it must not
    # decide which external refs are honorable.
    for sid in keep_snapshot_ids or ():
        if table.fs.exists(os.path.join(meta, LakeTable._snap_name(sid))):
            keep_ids.add(sid)

    # Tag refs (lake/tags.py): a tagged snapshot is pinned until its tag
    # is deleted — the audit-pin retention rule, honored with the same
    # exists-probe as catalog pins (a tag whose snapshot was expired
    # before tagging-aware expiry existed is dangling, not resurrected).
    from tpc_di_spark.lake import tags as _tags

    for sid in _tags.tagged_snapshot_ids(table):
        if table.fs.exists(os.path.join(meta, LakeTable._snap_name(sid))):
            keep_ids.add(sid)

    # WAP branch refs (lake/wap.py): a staged branch pins its fork-point
    # snapshot (it is the branch chain's parent) and its staged chains'
    # data files — both until publish/abort. Same retention rule as the
    # catalog pins above, wired in here so callers cannot forget it.
    from tpc_di_spark.lake import wap as _wap

    live_refs = _wap.list_branches(table)
    for sid in {ref["fork_id"] for ref in live_refs.values()}:
        if table.fs.exists(os.path.join(meta, LakeTable._snap_name(sid))):
            keep_ids.add(sid)

    live: set[str] = set()
    live.update(_wap.live_branch_files(table))
    for sid in keep_ids:
        s = table.read_snapshot(sid)
        for fmap in (s.files, s.hist_files):
            for fl in fmap.values():
                live.update(fl)
        # Pending merge-on-read delta files are referenced from snapshot
        # properties, not the base file map — they are live too.
        for b in s.properties.get("delta_batches", []):
            for fl in b["files"].values():
                live.update(fl)

    # Optimistic guard mirroring commit/_flip_version: if another writer
    # committed between the refresh above and now, abort rather than delete
    # files a newer snapshot references.
    current = table._read_current_snapshot(table.path, table.fs)
    if current.snapshot_id != table.snapshot.snapshot_id:
        return {"removed_files": 0, "removed_snapshots": 0, "aborted": "concurrent-commit"}

    data_root = os.path.join(table.path, "data")
    removed_files = 0
    skipped_young = 0
    now = time.time()
    for fpath in table.fs.walk_files(data_root):
        if not fpath.endswith(".parquet"):
            continue
        rel = os.path.relpath(fpath, table.path)
        if rel not in live:
            if min_age_seconds > 0 and now - table.fs.mtime(fpath) < min_age_seconds:
                skipped_young += 1  # possibly an in-flight writer's file
                continue
            table.fs.remove(fpath)
            removed_files += 1

    # Enumerate snapshots by LISTING _meta, not by walking the parent
    # chain: a hole from a previous non-contiguous expiry would hide
    # still-on-disk snapshots from the walk, leaving them (and their
    # files) unexpirable forever once their catalog refs are gone.
    removed_snaps = 0
    for name in table.fs.listdir(meta):
        m = _SNAP_RE.fullmatch(name)
        if m and int(m.group(1)) not in keep_ids:
            table.fs.remove(os.path.join(meta, name))
            removed_snaps += 1

    # Staged WAP snapshots whose branch ref is gone (out-of-band ref
    # delete, or an abort that crashed mid-cleanup) are metadata orphans;
    # live branches' snaps are protected by the ref probe above. Same
    # min-age guard as data files (a begin() writes the ref before any
    # staged snapshot, but don't race a same-instant writer).
    for name in table.fs.listdir(meta):
        m = _WAP_SNAP_RE.fullmatch(name)
        if m and m.group(2) not in live_refs:
            p = os.path.join(meta, name)
            if min_age_seconds > 0 and now - table.fs.mtime(p) < min_age_seconds:
                skipped_young += 1
                continue
            table.fs.remove(p)
            removed_snaps += 1

    # History manifests referenced only by expired snapshots are orphans
    # now (manifests are immutable and shared forward, so anything a kept
    # snapshot lists stays).
    live_manifests = set()
    for sid in keep_ids:
        live_manifests.update(
            table.read_snapshot(sid, hydrate=False).hist_manifests
        )
    # Staged WAP chains reference manifests too (their commits write
    # delta manifests into the shared _meta namespace).
    live_manifests.update(_wap.live_branch_manifests(table))
    removed_manifests = 0
    for name in table.fs.listdir(meta):
        if name.startswith("manifest-") and os.path.join("_meta", name) not in live_manifests:
            p = os.path.join(meta, name)
            # same min-age guard as data files: a mid-commit writer's
            # manifest is unreferenced until its snapshot flips
            if min_age_seconds > 0 and now - table.fs.mtime(p) < min_age_seconds:
                skipped_young += 1
                continue
            table.fs.remove(p)
            removed_manifests += 1

    # Bloom sidecars (lake/bloom.py) referenced only by expired snapshots
    # are orphans — same rule as history manifests (immutable, shared
    # forward, staged WAP chains reference them too).
    live_blooms: set[str] = set()
    for sid in keep_ids:
        live_blooms.update(
            e["rel"]
            for e in table.read_snapshot(sid, hydrate=False).bloom_index
        )
    live_blooms.update(_wap.live_branch_blooms(table))
    removed_blooms = 0
    for name in table.fs.listdir(meta):
        if name.startswith("bloom-") and os.path.join("_meta", name) not in live_blooms:
            p = os.path.join(meta, name)
            if min_age_seconds > 0 and now - table.fs.mtime(p) < min_age_seconds:
                skipped_young += 1
                continue
            table.fs.remove(p)
            removed_blooms += 1
    return {
        "removed_files": removed_files,
        "removed_snapshots": removed_snaps,
        "removed_manifests": removed_manifests,
        "removed_blooms": removed_blooms,
        "skipped_young_files": skipped_young,
    }


def rebucket(table: LakeTable, new_num_buckets: int) -> dict:
    """Change the table's bucket count in ONE atomic commit — the scale
    operation Iceberg calls partition-spec evolution. A bucket count
    chosen at table creation cannot serve forever: at 10^10 rows a
    64-bucket table has ~25 GB buckets (no parallelism within a merge
    group); re-bucketing to 4096 restores balanced, prunable units.

    Rewrites every live row under the new ``pmod(hash(key), N')``
    assignment — ALWAYS the Spark-aligned murmur3 layout, and the commit
    stamps ``bucket.hash=murmur3``: since rebucketing rewrites every
    byte anyway, it doubles as the in-place upgrade path for legacy
    xxhash64 tables (after it, Exchange-free bucketed-scan merges apply).
    Writing any other hash here would silently desync the on-disk layout
    from the property the bucketed-scan read trusts — wrong join
    results, not just a slow plan. Readers on the old snapshot keep the
    old layout (time travel intact), a crash before the flip leaves only
    orphan files. O(table) — schedule it like compaction, not per batch."""
    snap = table.snapshot
    if new_num_buckets == snap.num_buckets and table.spark_aligned:
        return {"rebucketed": False, "num_buckets": snap.num_buckets}
    new_bucket = F.pmod(
        F.hash(*[F.col(c) for c in snap.bucket_cols]), F.lit(new_num_buckets)
    ).cast("int")
    # Clustered into N' partitions here (the writer's own exchange would
    # target the old count); the writer's family split keeps the
    # current/history invariant across the re-bucketing.
    df = table.read().withColumn(LakeTable.BUCKET_COL, new_bucket)
    new_files, new_hist = table.write_data_files(
        df.repartition(new_num_buckets, F.col(LakeTable.BUCKET_COL)),
        f"rebucket-{snap.snapshot_id:08d}-to-{new_num_buckets}",
        assume_bucket_partitioned=True,
    )
    table.commit(
        new_files_by_bucket=new_files,
        mode="replace",
        replaced_buckets=set(snap.files) | set(snap.hist_files) | set(new_files) | set(new_hist),
        append_hist_by_bucket=new_hist,
        replace_hist=True,
        new_file_stats=table.footer_stats(new_files, new_hist)[1],
        summary={"operation": "rebucket", "from": snap.num_buckets, "to": new_num_buckets},
        new_num_buckets=new_num_buckets,
        new_properties={**snap.properties, "bucket.hash": "murmur3"},
    )
    return {
        "rebucketed": True,
        "num_buckets": new_num_buckets,
        "files": sum(len(v) for v in new_files.values())
        + sum(len(v) for v in new_hist.values()),
    }


def table_stats(table: LakeTable) -> dict:
    """Metadata-only operational description of a table — the DBA surface
    behind compaction/expiry/rebucket decisions (Iceberg's
    ``metadata_log_entries``/``files`` metadata tables, without scanning a
    byte of data). Everything derives from the loaded snapshot plus
    ``_meta`` listings, so it is O(files-in-metadata) on the driver and
    safe to call on every batch at the 10^5-file design point.

    Skew fields: current-family files per bucket min/max/mean — a max far
    above the mean means hot buckets (compaction candidates); a growing
    ``hist_files`` total with flat ``current_files`` is the append-only
    history fan the auto-compaction policy bounds.
    """
    snap = table.snapshot
    meta = os.path.join(table.path, "_meta")
    per_bucket = {int(b): len(fl) for b, fl in snap.files.items() if fl}
    counts = sorted(per_bucket.values())
    n_snaps = n_wap = 0
    n_blooms = n_manifests = 0
    for name in table.fs.listdir(meta):
        if _WAP_SNAP_RE.fullmatch(name):
            n_wap += 1
        elif _SNAP_RE.fullmatch(name):
            n_snaps += 1
        elif name.startswith("bloom-"):
            n_blooms += 1
        elif name.startswith("manifest-"):
            n_manifests += 1
    from tpc_di_spark.cdc.mor import pending_delta_batches
    from tpc_di_spark.lake import tags as _tags
    from tpc_di_spark.lake import wap as _wap

    return {
        "snapshot_id": snap.snapshot_id,
        "num_buckets": snap.num_buckets,
        "columns": len(snap.schema.fields),
        "committed_batches": len(snap.committed_batches),
        "current_files": sum(counts),
        "hist_files": sum(len(fl) for fl in snap.hist_files.values()),
        "files_per_bucket": {
            "min": counts[0] if counts else 0,
            "max": counts[-1] if counts else 0,
            "mean": round(sum(counts) / len(counts), 2) if counts else 0.0,
            "empty_buckets": snap.num_buckets - len(counts),
        },
        "snapshots_on_disk": n_snaps,
        "staged_wap_snapshots": n_wap,
        "hist_manifests": n_manifests,
        "bloom_sidecars": n_blooms,
        "bloom_indexed_column": snap.properties.get("index.bloom.column"),
        "pending_mor_deltas": [d["batch_id"] for d in pending_delta_batches(table)],
        "branches": sorted(_wap.list_branches(table)),
        "tags": sorted(_tags.list_tags(table)),
        "properties": dict(snap.properties),
    }


def consolidate_blooms(table: LakeTable, max_sidecars: int = 8) -> dict:
    """Merge the snapshot's Bloom sidecars into one per (column, nbits,
    k) parameter set when more than ``max_sidecars`` have accumulated.

    Every commit on an indexed table writes one sidecar; an entry only
    dies when ALL its covered files are rewritten, so a long run between
    compactions accumulates sidecars whose probe-time JSON loads are
    driver-side O(commits). Consolidation is pure metadata: read the
    live filters, drop the ones whose file is no longer referenced,
    write ONE merged sidecar, and commit a snapshot whose bloom_index
    points at it (``replace_bloom_index``). No data files move; probes
    on older snapshots keep reading the old sidecars until expiry
    sweeps them (they become unreferenced by the new chain exactly like
    replaced data files)."""
    import json as _json
    import uuid as _uuid

    table.refresh()
    snap = table.snapshot
    if len(snap.bloom_index) <= max_sidecars:
        return {"consolidated": 0, "sidecars_before": len(snap.bloom_index)}
    referenced = {
        rel
        for fmap in (snap.files, snap.hist_files)
        for fl in fmap.values()
        for rel in fl
    }
    # group live filters by parameter set (properties can change over time)
    by_params: dict[tuple, dict[str, str]] = {}
    for entry in snap.bloom_index:
        try:
            raw = _json.loads(
                table.fs.read_text(os.path.join(table.path, entry["rel"]))
            )
        except FileNotFoundError:
            continue  # expired sidecar: its files degrade to always-scan
        key = (raw["column"], int(raw["nbits"]), int(raw["k"]))
        dst = by_params.setdefault(key, {})
        for rel, bits in raw["files"].items():
            if rel in referenced:
                dst[rel] = bits
    new_index = []
    for (col, nbits, k), filters in sorted(by_params.items()):
        if not filters:
            continue
        rel_out = os.path.join("_meta", f"bloom-{_uuid.uuid4().hex[:12]}.json")
        table.fs.write_text(
            os.path.join(table.path, rel_out),
            _json.dumps(
                {"column": col, "nbits": nbits, "k": k, "files": filters}
            ),
        )
        new_index.append({"rel": rel_out, "files": sorted(filters)})
    table.commit(
        new_files_by_bucket={},
        mode="append",
        replace_bloom_index=new_index,
        summary={
            "operation": "consolidate-blooms",
            "sidecars_before": len(snap.bloom_index),
            "sidecars_after": len(new_index),
        },
    )
    return {
        "consolidated": 1,
        "sidecars_before": len(snap.bloom_index),
        "sidecars_after": len(new_index),
    }
