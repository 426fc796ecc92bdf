"""LakeTable — a from-scratch transactional bucketed-parquet table format.

This is the engine's lake sink, playing the role Iceberg plays in the
design (no Iceberg jars exist in this environment, so the table format is
built from first principles with the same guarantees):

- **Snapshot log**: every commit writes an immutable JSON snapshot listing
  the live data files per bucket; the table's current state is whatever
  snapshot the ``VERSION`` pointer names. Readers never see partial writes.
- **Atomic commits**: ``VERSION`` is replaced through the metadata
  filesystem seam (``lake.fs.TableFS.replace_text`` — POSIX/HDFS rename
  locally, conditional PUT on S3/GCS, see fs.py); an optimistic parent
  check rejects concurrent writers. Data files are written *before* the
  snapshot, so a crash at any point leaves only unreferenced orphans,
  never a corrupt table.
- **Copy-on-write MERGE**: an upsert rewrites only the buckets its source
  keys hash into; untouched buckets carry their old files forward by
  reference. At 10^10 rows a batch touching 1% of conversations rewrites
  ~1% of the table — this is what makes the design scale.
- **Current/history file families**: every bucket keeps its live SCD2
  rows (``is_current=true``) and its closed versions in SEPARATE files
  (a split ``partitionBy(_bucket, _ic)`` write). Closed versions are
  immutable, so the history family is append-only: a merge scans and
  rewrites only the current family and appends the versions it closes.
  At the 10^10-row design point history dwarfs the live set — without
  the split every batch re-read and re-wrote all of it; with it,
  per-batch I/O is O(live set + batch), not O(full lineage).
- **Key-hash bucketing = salting**: rows are bucketed by
  ``pmod(hash(conv_id, turn_idx), B)`` — Spark's own Murmur3 hash, the
  exact ``HashPartitioning.partitionIdExpression`` Catalyst uses for
  shuffle placement. Hashing the *full* business key (not just
  ``conv_id``) is the salting strategy for hot conversations — a
  conversation with 10^6 turns spreads uniformly over all buckets instead
  of melting one partition, while every version of a single
  ``(conv_id, turn_idx)`` key still lands in exactly one bucket, so MERGE
  joins stay bucket-local. Aligning the on-disk bucket function with
  Spark's shuffle hash is what lets :meth:`LakeTable.read_bucketed`
  register the current file family as a catalog bucketed table whose scan
  reports ``HashPartitioning(bucket_cols, B)`` — the merge join then
  needs NO Exchange above the table scan, and the merge output is already
  physically bucket-partitioned so the write needs no repartition either
  (one shuffle per batch: the incoming events).
- **Schema evolution**: the snapshot carries the table schema; adding a
  column is a metadata-only commit. Old files are read through the new
  schema (Spark null-fills missing parquet columns), mirroring Iceberg's
  `ALTER TABLE ADD COLUMN` (reference gap: the TPC-DI code hand-declares
  schemas twice and cannot evolve, `Historical/DimCustomer.py:521-563`).
- **Exactly-once**: each snapshot records the set of committed batch ids;
  re-applying a committed batch is a metadata no-op (idempotent replay,
  the property the reference's per-row INSERTs lack,
  `Incremental1/IncrementalAccount.py:218-343`).
- **Time travel**: any historical snapshot remains readable by id.

Single-writer by design (the orchestrator serializes batches, matching the
reference's strictly sequential Batch2 → Batch3 model, report §4.3).
"""

from __future__ import annotations

import json
import math
import os
import time
import uuid
from dataclasses import dataclass, field
from typing import Iterable, Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructField, StructType

from tpc_di_spark.lake import bloom as _bloom
from tpc_di_spark.lake.fs import CasConflict, LocalFS, TableFS

_META = "_meta"
_DATA = "data"
_VERSION = "VERSION"


class CommitConflict(RuntimeError):
    """Another writer committed since this snapshot was loaded."""


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    schema_json: dict
    num_buckets: int
    key_cols: list[str]
    bucket_cols: list[str]
    files: dict[str, list[str]]  # bucket id (str) -> table-relative paths
    committed_batches: list[int]
    summary: dict = field(default_factory=dict)
    properties: dict = field(default_factory=dict)
    # History file family (bucket -> paths): immutable closed SCD2
    # versions, append-only — a CDC merge never rewrites them (see
    # LakeTable docstring, "current/history file families"). IN MEMORY
    # this is always the full hydrated map; ON DISK it lives in the
    # immutable MANIFEST files listed in ``hist_manifests`` (one delta
    # manifest per closing commit, consolidated past a threshold), so a
    # commit serializes O(current files + this batch's delta) bytes, not
    # O(every history file ever written) — the history family grows one
    # file per bucket per batch, and at the 10^10 design point re-listing
    # it inline made every snapshot write O(table age). Iceberg's
    # manifest/manifest-list design, rebuilt on the snapshot log.
    hist_files: dict[str, list[str]] = field(default_factory=dict)
    # Per-file [min, max] of the batch_id lineage column, from parquet
    # footer stats at write time — the engine's data-skipping index for
    # incremental changelog reads (lake/changelog.py). A file absent here
    # has unknown range and is always scanned. In memory: the full map;
    # on disk: current-family stats inline, history-file stats inside
    # their manifest.
    file_stats: dict[str, list] = field(default_factory=dict)
    # Table-relative paths of the immutable history manifests, oldest
    # first. Empty on legacy snapshots (their hist map is inline).
    hist_manifests: list[str] = field(default_factory=list)
    # Bloom secondary index (lake/bloom.py): one entry per commit that
    # built a sidecar — {"rel": sidecar path, "files": covered data-file
    # rels}. The filters themselves live in the immutable sidecar files
    # (snapshot body stays O(file names)); an entry is dropped when none
    # of its files are referenced anymore.
    bloom_index: list = field(default_factory=list)

    @property
    def schema(self) -> StructType:
        return StructType.fromJson(self.schema_json)

    def to_json(self) -> dict:
        if self.hist_manifests:
            # History rides the manifests: suppress the hydrated map and
            # its stats from the snapshot body (the inverse of hydrate()).
            hist_rels = {rel for fl in self.hist_files.values() for rel in fl}
            hist_inline: dict[str, list[str]] = {}
            stats_inline = {
                rel: v for rel, v in self.file_stats.items() if rel not in hist_rels
            }
        else:  # legacy round-trip: everything inline
            hist_inline = self.hist_files
            stats_inline = self.file_stats
        return {
            "snapshot_id": self.snapshot_id,
            "parent_id": self.parent_id,
            "schema": self.schema_json,
            "num_buckets": self.num_buckets,
            "key_cols": self.key_cols,
            "bucket_cols": self.bucket_cols,
            "files": self.files,
            "hist_files": hist_inline,
            "file_stats": stats_inline,
            "hist_manifests": self.hist_manifests,
            "bloom_index": self.bloom_index,
            "committed_batches": self.committed_batches,
            "summary": self.summary,
            "properties": self.properties,
        }

    @staticmethod
    def from_json(d: dict) -> "Snapshot":
        return Snapshot(
            snapshot_id=d["snapshot_id"],
            parent_id=d.get("parent_id"),
            schema_json=d["schema"],
            num_buckets=d["num_buckets"],
            key_cols=d["key_cols"],
            bucket_cols=d["bucket_cols"],
            files={k: list(v) for k, v in d["files"].items()},
            committed_batches=list(d.get("committed_batches", [])),
            summary=d.get("summary", {}),
            properties=d.get("properties", {}),
            hist_files={k: list(v) for k, v in d.get("hist_files", {}).items()},
            file_stats=dict(d.get("file_stats", {})),
            hist_manifests=list(d.get("hist_manifests", [])),
            bloom_index=list(d.get("bloom_index", [])),
        )


class LakeTable:
    """Handle to one transactional table rooted at ``path``."""

    BUCKET_COL = "_bucket"

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        snapshot: Snapshot,
        fs: TableFS | None = None,
    ):
        self.spark = spark
        self.path = os.path.abspath(path)
        self.snapshot = snapshot
        self.fs = fs or LocalFS()

    # ---------------------------------------------------------------- create
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        schema: StructType,
        num_buckets: int = 16,
        key_cols: Sequence[str] = ("conv_id", "turn_idx"),
        bucket_cols: Sequence[str] | None = None,
        properties: dict | None = None,
        fs: TableFS | None = None,
    ) -> "LakeTable":
        fs = fs or LocalFS()
        path = os.path.abspath(path)
        meta = os.path.join(path, _META)
        if fs.exists(os.path.join(meta, _VERSION)):
            raise FileExistsError(f"table already exists at {path}")
        fs.makedirs(meta)
        fs.makedirs(os.path.join(path, _DATA))
        # New tables bucket with Spark's Murmur3 (see module docstring:
        # this is what makes bucketed-scan merges Exchange-free). The
        # property is stamped at create time so tables written under the
        # earlier xxhash64 layout keep reading correctly (bucket_expr
        # honors whichever function laid the files out).
        props = dict(properties or {})
        props.setdefault("bucket.hash", "murmur3")
        snap = Snapshot(
            snapshot_id=0,
            parent_id=None,
            schema_json=schema.jsonValue(),
            num_buckets=num_buckets,
            key_cols=list(key_cols),
            bucket_cols=list(bucket_cols or key_cols),
            files={},
            committed_batches=[],
            summary={"operation": "create", "committed_at": math.floor(time.time() * 1000) / 1000},
            properties=props,
        )
        snap_name = cls._snap_name(0)
        fs.write_text(os.path.join(meta, snap_name), json.dumps(snap.to_json()))
        fs.replace_text(os.path.join(meta, _VERSION), snap_name)
        return cls(spark, path, snap, fs=fs)

    @classmethod
    def load(cls, spark: SparkSession, path: str, fs: TableFS | None = None) -> "LakeTable":
        fs = fs or LocalFS()
        path = os.path.abspath(path)
        snap = cls._read_current_snapshot(path, fs)
        return cls(spark, path, snap, fs=fs)

    @classmethod
    def exists(cls, path: str, fs: TableFS | None = None) -> bool:
        return (fs or LocalFS()).exists(
            os.path.join(os.path.abspath(path), _META, _VERSION)
        )

    # ------------------------------------------------------------- metadata
    @staticmethod
    def _snap_name(snapshot_id: int) -> str:
        return f"snap-{snapshot_id:08d}.json"

    @classmethod
    def _read_current_snapshot(
        cls, path: str, fs: TableFS | None = None, hydrate: bool = True
    ) -> Snapshot:
        fs = fs or LocalFS()
        meta = os.path.join(path, _META)
        snap_name = fs.read_text(os.path.join(meta, _VERSION)).strip()
        snap = Snapshot.from_json(
            json.loads(fs.read_text(os.path.join(meta, snap_name)))
        )
        return cls._hydrate(snap, path, fs) if hydrate else snap

    @staticmethod
    def _hydrate(snap: Snapshot, path: str, fs: TableFS) -> Snapshot:
        """Merge the snapshot's history manifests into the in-memory
        hist_files / file_stats maps — the read-side inverse of the
        manifest split in ``commit``. Delta manifests merge in list
        order (append-only history makes merge = concatenation)."""
        for rel in snap.hist_manifests:
            m = json.loads(fs.read_text(os.path.join(path, rel)))
            for b, fl in m.get("hist", {}).items():
                snap.hist_files.setdefault(b, []).extend(fl)
            snap.file_stats.update(m.get("stats", {}))
        return snap

    def refresh(self) -> "LakeTable":
        self.snapshot = self._read_current_snapshot(self.path, self.fs)
        return self

    @property
    def schema(self) -> StructType:
        return self.snapshot.schema

    @property
    def num_buckets(self) -> int:
        return self.snapshot.num_buckets

    @property
    def key_cols(self) -> list[str]:
        return self.snapshot.key_cols

    def is_batch_committed(self, batch_id: int) -> bool:
        return batch_id in self.snapshot.committed_batches

    def read_snapshot(self, snapshot_id: int, hydrate: bool = True) -> Snapshot:
        """Load a snapshot by id (time travel). ``hydrate=False`` skips
        loading its history manifests — enough for metadata-only walks
        (summaries, parent chains) and O(1) instead of O(manifests)."""
        snap = Snapshot.from_json(
            json.loads(
                self.fs.read_text(
                    os.path.join(self.path, _META, self._snap_name(snapshot_id))
                )
            )
        )
        return self._hydrate(snap, self.path, self.fs) if hydrate else snap

    def snapshot_as_of(self, ts: float) -> Snapshot:
        """AS-OF-TIMESTAMP time travel (Iceberg `FOR TIMESTAMP AS OF`):
        the newest snapshot whose commit wall clock (``summary.
        committed_at``, stamped by create/commit) is <= ``ts`` (epoch
        seconds). Use as ``table.read(snapshot=table.snapshot_as_of(t))``.
        Walks the metadata-only parent chain newest-first; raises if
        every on-disk snapshot is newer (born-later table or the target
        was expired — same retention contract as snapshot-id travel).
        WAP caveat: a published batch carries its STAGING-time stamp
        (publish copies staged snapshots verbatim), so as-of resolves by
        when work committed, not when it became visible.

        Tagged pins make the retained set NON-CONTIGUOUS (expiry keeps
        {tagged, last-k}), so a parent-chain walk truncates at the first
        expiry hole; past a hole this falls back to listing ``_meta``
        directly — the same rule ``expire_snapshots`` applies for the
        same reason — so an as-of read of a tagged audit snapshot works
        even after the snapshots between it and head were expired."""
        best: int | None = None
        best_at = float("-inf")
        sid: int | None = self.snapshot.snapshot_id
        hole = False
        while sid is not None:
            try:
                s = self.read_snapshot(sid, hydrate=False)
            except (FileNotFoundError, OSError):
                hole = True
                break
            at = s.summary.get("committed_at")
            if at is not None and at <= ts:
                return self.read_snapshot(s.snapshot_id)
            sid = s.parent_id
        if hole:
            import re as _re

            snap_re = _re.compile(r"snap-(\d+)\.json")
            meta = os.path.join(self.path, _META)
            for name in self.fs.listdir(meta):
                m = snap_re.fullmatch(name)
                if not m:
                    continue
                s = self.read_snapshot(int(m.group(1)), hydrate=False)
                at = s.summary.get("committed_at")
                if at is not None and best_at < at <= ts:
                    best, best_at = s.snapshot_id, at
        if best is not None:
            return self.read_snapshot(best)
        raise ValueError(
            f"no snapshot at or before ts={ts}: every retained snapshot "
            "is newer (expired history or a table created later)"
        )

    def history(self) -> list[dict]:
        """Lineage of the current snapshot, oldest first. Stops at the
        oldest snapshot still on disk (older ones may have been expired).
        Metadata-only: no manifest hydration."""
        out = []
        sid: int | None = self.snapshot.snapshot_id
        while sid is not None:
            try:
                s = self.read_snapshot(sid, hydrate=False)
            except (FileNotFoundError, OSError):
                break
            out.append({"snapshot_id": s.snapshot_id, "summary": s.summary})
            sid = s.parent_id
        return list(reversed(out))

    # ---------------------------------------------------------------- reads
    def bucket_expr(self, prefix: str = "") -> F.Column:
        cols = [F.col(prefix + c) for c in self.snapshot.bucket_cols]
        if self.snapshot.properties.get("bucket.hash") == "murmur3":
            # F.hash == Murmur3Hash(seed 42) == the hash inside Spark's
            # HashPartitioning.partitionIdExpression, so bucket id b ==
            # the partition id of ``repartition(num_buckets, *bucket_cols)``
            # and of a catalog bucketed scan. Verified empirically on
            # Spark 4.1 (zero mismatches over 100k keys).
            h = F.hash(*cols)
        else:  # legacy layout (tables created before round 5)
            h = F.xxhash64(*cols)
        return F.pmod(h, F.lit(self.num_buckets)).cast("int")

    def with_bucket(self, df: DataFrame) -> DataFrame:
        return df.withColumn(self.BUCKET_COL, self.bucket_expr())

    @staticmethod
    def _bucket_file_pairs(
        fmap: dict[str, list[str]], buckets: Iterable[int] | None
    ) -> list[tuple[str, str]]:
        """(bucket, relative path) pairs of a file-family map, optionally
        bucket-pruned — the ONE selection rule both read() and
        read_bucketed() use (they must return identical row sets)."""
        wanted = (
            set(fmap) if buckets is None else {str(b) for b in buckets} & set(fmap)
        )
        return [(b, rel) for b in sorted(wanted) for rel in fmap[b]]

    def bucket_partitioned(self, df: DataFrame) -> DataFrame:
        """Repartition ``df`` into exactly the table's bucket layout
        (``HashPartitioning(bucket_cols, num_buckets)``). Under the
        murmur3 bucket function, partition i holds precisely bucket i's
        rows — the ONE shuffle a CDC batch needs: the downstream LWW
        groupBy, the merge join against a bucketed scan, and the
        family-split write are all satisfied by this partitioning and add
        no further Exchange."""
        return df.repartition(
            self.num_buckets, *[F.col(c) for c in self.snapshot.bucket_cols]
        )

    @property
    def spark_aligned(self) -> bool:
        """True when the on-disk bucket function equals Spark's shuffle
        hash (murmur3), i.e. bucketed-scan reads and repartition-free
        writes are valid."""
        return self.snapshot.properties.get("bucket.hash") == "murmur3"

    # ---- logical/physical column mapping (rename & drop evolution) ----
    #
    # Files always store a column under its BIRTH NAME (the "physical"
    # name — our dependency-free stand-in for Iceberg's field ids, which
    # parquet-by-name reads cannot carry). A rename is then pure
    # metadata: the snapshot schema holds the new LOGICAL name and
    # ``properties["column.map"]`` records {logical: physical} for the
    # non-identity entries; reads scan the physical schema and alias to
    # logical, writes rename logical→physical just before the parquet
    # write. A drop retires the physical name
    # (``properties["column.retired"]``) so a later re-ADD of the same
    # logical name gets a FRESH physical identity — old files' bytes for
    # the dead column can never resurrect into the new one.
    # The identity case (no rename/drop ever) keeps the exact original
    # code path: no extra Project, no per-row cost.

    _COLMAP_PROP = "column.map"
    _RETIRED_PROP = "column.retired"

    def _colmap(self, snap: Snapshot | None = None) -> dict[str, str]:
        return dict((snap or self.snapshot).properties.get(self._COLMAP_PROP, {}))

    def physical_schema(
        self, snap: Snapshot | None = None, schema: StructType | None = None
    ) -> StructType:
        """``schema`` (default: the snapshot's) under its file-side names."""
        snap = snap or self.snapshot
        schema = schema or snap.schema
        cmap = self._colmap(snap)
        if not cmap:
            return schema
        return StructType(
            [
                StructField(cmap.get(f.name, f.name), f.dataType, f.nullable)
                for f in schema.fields
            ]
        )

    def _to_physical(self, df: DataFrame, snap: Snapshot | None = None) -> DataFrame:
        cmap = self._colmap(snap)
        for logical, physical in cmap.items():
            if logical in df.columns:
                df = df.withColumnRenamed(logical, physical)
        return df

    def read_files(
        self,
        paths: Sequence[str],
        snapshot: Snapshot | None = None,
        schema: StructType | None = None,
    ) -> DataFrame:
        """Scan data files through a snapshot's schema (or a logical
        ``schema`` such as the MoR delta layout), applying the
        physical→logical column mapping — the ONE read primitive every
        path (read(), changelog, MoR base and deltas) shares so rename
        evolution cannot be bypassed."""
        snap = snapshot or self.snapshot
        schema = schema or snap.schema
        if not paths:
            return self.spark.createDataFrame([], schema)
        if not self._colmap(snap):
            return self.spark.read.schema(schema).parquet(*paths)
        phys = self.physical_schema(snap, schema)
        df = self.spark.read.schema(phys).parquet(*paths)
        return df.select(
            *[F.col(p.name).alias(f.name) for p, f in zip(phys.fields, schema.fields)]
        )

    def read(
        self,
        buckets: Iterable[int] | None = None,
        snapshot: Snapshot | None = None,
        family: str = "all",
    ) -> DataFrame:
        """Read the table (optionally bucket-pruned / time-travelled).

        Bucket pruning is the engine's partition pruning: a MERGE whose
        source touches 3 of 128 buckets reads 3/128ths of the table.

        ``family`` prunes by FILE FAMILY: ``"current"`` scans only the
        current-row files, ``"history"`` only the immutable closed-version
        files, ``"all"`` both. The invariant (history files never hold an
        ``is_current=true`` row — enforced by the split write below) is
        what lets the CDC merge and live-state reads skip the history
        entirely: at the 10^10-row design point history dwarfs the live
        set, and scanning it per batch was the dominant wasted I/O.
        """
        snap = snapshot or self.snapshot
        maps: list[dict[str, list[str]]] = []
        if family in ("all", "current"):
            maps.append(snap.files)
        if family in ("all", "history"):
            maps.append(snap.hist_files)
        if family not in ("all", "current", "history"):
            raise ValueError(f"unknown file family {family!r}")
        paths = [
            os.path.join(self.path, rel)
            for fmap in maps
            for _b, rel in self._bucket_file_pairs(fmap, buckets)
        ]
        # Explicit schema => old files null-fill evolved columns;
        # read_files applies the rename-evolution column mapping.
        return self.read_files(paths, snapshot=snap)

    def read_bucketed(
        self,
        family: str = "current",
        buckets: Iterable[int] | None = None,
    ) -> tuple[DataFrame, bool]:
        """Read a file family through a catalog-registered BUCKETED table
        so the scan reports ``HashPartitioning(bucket_cols, num_buckets)``
        and a merge join adds NO Exchange above it (the plan-level
        equivalent of Iceberg's storage-partitioned joins). Returns
        ``(df, True)`` when the bucketed path applied, ``(plain_read,
        False)`` otherwise (legacy xxhash64 layout, non-local FS, or an
        empty family).

        Mechanics: Spark assigns a scanned file to bucket b from the
        ``_NNNNN`` suffix of its file name and trusts the data was
        hash-placed by ``pmod(murmur3(bucket_cols), num_buckets)`` — which
        is exactly this table's murmur3 bucket function (``bucket_expr``).
        The snapshot's file list is exposed as one flat directory of
        HARDLINKS named with their bucket suffix (per snapshot+family, so
        time-travel isolation is free), and an external bucketed table is
        registered over it. Hardlinks cost O(files) driver-side metadata
        ops and pin the inodes, so a later compaction can't invalidate a
        running scan; stale views + catalog entries of older snapshots
        are dropped on each call (single-writer contract). LIFETIME: the
        returned DataFrame is valid until the NEXT read_bucketed call on
        this table handle (which unregisters older snapshots' views) —
        materialize or re-read across commits; plain ``read()`` has no
        such restriction.
        """
        snap = self.snapshot
        if family not in ("current", "history"):
            raise ValueError(f"read_bucketed supports one family, got {family!r}")
        fmap = snap.files if family == "current" else snap.hist_files
        pairs = self._bucket_file_pairs(fmap, buckets)
        if not pairs or not self.spark_aligned:
            return self.read(buckets=buckets, family=family), False

        import hashlib

        token = (
            "all"
            if buckets is None
            else hashlib.md5(
                ",".join(sorted({b for b, _ in pairs})).encode()
            ).hexdigest()[:10]
        )
        view_root = os.path.join(self.path, _META, "bview")
        view = os.path.join(
            view_root, f"s{snap.snapshot_id:08d}-{family}-{token}"
        )
        linked = self.fs.link_view(
            [os.path.join(self.path, rel) for _b, rel in pairs],
            view,
            [f"part-{i:05d}-v_{int(b):05d}.parquet" for i, (b, _r) in enumerate(pairs)],
        )
        if not linked:  # backend without a link primitive (object stores)
            return self.read(buckets=buckets, family=family), False
        prefix = f"lake_bt_{hashlib.md5(self.path.encode()).hexdigest()[:8]}_"
        name = f"{prefix}s{snap.snapshot_id}_{family}_{token}"
        if not self.spark.catalog.tableExists(name):
            # Physical schema: the files' column names. Bucket columns are
            # key columns, which rename evolution refuses to touch, so the
            # CLUSTERED BY list needs no mapping.
            cols = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}"
                for f in self.physical_schema(snap).fields
            )
            bcols = ", ".join(f"`{c}`" for c in snap.bucket_cols)
            self.spark.sql(
                f"CREATE TABLE {name} ({cols}) USING PARQUET "
                f"CLUSTERED BY ({bcols}) INTO {snap.num_buckets} BUCKETS "
                f"LOCATION '{view}'"
            )
        if not hasattr(self, "_bucket_view_names"):
            self._bucket_view_names: set[str] = set()
        self._bucket_view_names.add(name)
        self._drop_stale_bucket_views(prefix, keep_name=name, keep_view=view)
        bt = self.spark.table(name)
        cmap = self._colmap(snap)
        if cmap:
            # Alias back to logical names. The bucket columns pass through
            # un-aliased, so the scan's HashPartitioning survives the
            # Project and the merge join stays Exchange-free.
            inv = {v: k for k, v in cmap.items()}
            bt = bt.select(
                *[
                    F.col(f.name).alias(inv.get(f.name, f.name))
                    for f in self.physical_schema(snap).fields
                ]
            )
        return bt, True

    def _drop_stale_bucket_views(
        self, prefix: str, keep_name: str, keep_view: str
    ) -> None:
        """Unregister catalog entries and unlink hardlink views from older
        snapshots. Dropping promptly matters: a view's hardlinks keep the
        old snapshot's data-file inodes alive even after compaction
        deletes the originals.

        Stale names come from THIS handle's registry, not a
        ``listTables()`` sweep: a session running many tables (the bench
        drives 60+ engine queries, each with scratch tables) accumulates
        catalog entries, and a full listing per merge group made every
        ``read_bucketed`` O(session catalog) — measured 7x inflation on
        a replay re-run late in the suite. Another handle's leftover
        entries are harmless dangles (unique names; their view DIRS are
        still cleaned below, which is what releases the inodes)."""
        for t in sorted(getattr(self, "_bucket_view_names", set())):
            if t != keep_name:
                self.spark.sql(f"DROP TABLE IF EXISTS {t}")
                self._bucket_view_names.discard(t)
        view_root = os.path.join(self.path, _META, "bview")
        if self.fs.exists(view_root):
            keep = os.path.basename(keep_view)
            for entry in self.fs.listdir(view_root):
                if entry != keep:
                    self.fs.rmtree(os.path.join(view_root, entry))

    def lookup(
        self,
        keys: dict | Sequence[dict],
        family: str = "current",
        snapshot: Snapshot | None = None,
    ) -> DataFrame:
        """Bucket-pruned POINT LOOKUP: fetch the rows for a handful of
        business keys without scanning the table.

        Two pruning layers compose:

        1. **Bucket pruning** — each key's bucket is computed with the
           table's own ``bucket_expr`` (one metadata-sized Spark job over
           the key list), and only those buckets' files are scanned:
           k keys read at most k/B of the table.
        2. **Row-group pruning** — the keys become a literal
           ``OR``-of-``AND`` predicate, which Spark pushes into the
           parquet scan; on a key-sorted table (``write.sort_keys``) the
           row-group min/max stats then skip everything but the matching
           group, so a lookup on a 10^10-row table reads a few MB.

        Every key dict must provide ALL bucket columns (the table hashes
        the full business key precisely so hot conversations salt across
        buckets — which also means a ``conv_id``-only probe cannot prune
        and should use a filtered ``read()`` instead; a ``ValueError``
        says so rather than silently full-scanning). Extra columns beyond
        the bucket columns are matched as ordinary equality filters.

        Serving-path notes: ``family="current"`` answers "live state of
        this key"; ``family="all"`` returns its full SCD2 lineage. The
        lookup reads the BASE table — on a MoR table with pending delta
        batches use :func:`tpc_di_spark.cdc.mor.lookup_mor`, which folds
        the probed buckets' deltas. Above ~``max_predicate_keys`` keys the literal
        predicate would bloat the plan, so the filter downgrades to a
        broadcast semi-join (bucket pruning still applies); for
        genuinely large key sets use the merge path instead.
        """
        if isinstance(keys, dict):
            keys = [keys]
        if not keys:
            return self.spark.createDataFrame([], (snapshot or self.snapshot).schema)
        snap = snapshot or self.snapshot
        buckets, filt = self._keys_plan(keys, snap)
        return filt(self.read(buckets=buckets, family=family, snapshot=snap))

    def _keys_plan(self, keys: Sequence[dict], snap: Snapshot):
        """Shared lookup planning (base-table and MoR lookups): validate
        the key dicts, compute their bucket set with the table's own
        bucket function (one |keys|-row job — driver/table hash skew is
        impossible), and build the row filter: a literal OR-of-AND
        predicate (parquet-pushable → row-group pruning) for small key
        sets, a broadcast semi-join beyond ``max_predicate_keys``.
        Returns ``(buckets, filter_fn)``."""
        cols = [f.name for f in snap.schema.fields if f.name in keys[0]]
        for k in keys:
            if set(k) != set(cols):
                raise ValueError("every lookup key must provide the same columns")
        missing = [c for c in snap.bucket_cols if c not in cols]
        if missing:
            raise ValueError(
                f"lookup needs all bucket columns {snap.bucket_cols} "
                f"(missing {missing}); keys are salted across buckets by "
                "the FULL business key, so a partial key cannot prune — "
                "use read().filter(...) for prefix scans"
            )
        key_schema = StructType([f for f in snap.schema.fields if f.name in cols])
        key_df = self.spark.createDataFrame(
            [tuple(k[c] for c in cols) for k in keys], key_schema
        )
        buckets = sorted(
            r[0]
            for r in key_df.select(
                self.bucket_expr().alias("b")
            ).distinct().collect()
        )
        max_predicate_keys = 64
        if len(keys) <= max_predicate_keys:
            pred = None
            for k in keys:
                one = None
                for c in cols:
                    term = (
                        F.col(c).isNull()
                        if k[c] is None
                        else (F.col(c) == F.lit(k[c]))
                    )
                    one = term if one is None else (one & term)
                pred = one if pred is None else (pred | one)
            return buckets, (lambda df, p=pred: df.filter(p))
        from pyspark.sql.functions import broadcast

        return buckets, (
            lambda df: df.join(broadcast(key_df), on=cols, how="left_semi")
        )

    def lookup_by(
        self,
        col: str,
        values: Sequence,
        family: str = "current",
        snapshot: Snapshot | None = None,
    ) -> DataFrame:
        """SECONDARY-index point lookup: fetch rows matching ``col IN
        values`` scanning only the files whose Bloom filter may contain
        one of the values (lake/bloom.py). The complement of ``lookup``:
        full-key probes bucket-prune; a ``conv_id``-only probe ("all live
        turns of these conversations") cannot — the full-key salting that
        spreads hot conversations across buckets guarantees it — so it
        file-prunes through the per-file filters instead. At the design
        point a conversation's turns live in a handful of files out of
        ~10^5; unindexed tables (or probes on a different column) degrade
        to a plain scan + filter, never a wrong answer. Files without a
        filter entry (pre-index commits, history family) are always
        scanned. Prune effectiveness of the last call is recorded in
        ``self.last_lookup_stats`` (pytest / PLANS.md evidence).
        """
        snap = snapshot or self.snapshot
        values = [values] if isinstance(values, (str, bytes, int)) else list(values)
        if not values:
            return self.spark.createDataFrame([], snap.schema)
        if family not in ("all", "current", "history"):
            raise ValueError(f"unknown file family {family!r}")
        maps = []
        if family in ("all", "current"):
            maps.append(snap.files)
        if family in ("all", "history"):
            maps.append(snap.hist_files)
        rels = [rel for fmap in maps for _b, rel in self._bucket_file_pairs(fmap, None)]
        probe = self._bloom_probe(snap)
        dtype = next((f.dataType for f in snap.schema.fields if f.name == col), None)
        if dtype is None:
            raise ValueError(f"no such column {col!r}")
        if probe.may_prune(col):
            hashes = _bloom.probe_hashes(self.spark, values, dtype)
            keep = [rel for rel in rels if probe.may_contain(rel, hashes, col)]
        else:
            keep = rels
        self.last_lookup_stats = {"files_total": len(rels), "files_scanned": len(keep)}
        df = self.read_files(
            [os.path.join(self.path, r) for r in keep], snapshot=snap
        )
        return df.filter(F.col(col).isin(values))

    def _bloom_probe(self, snap: Snapshot) -> "_bloom.BloomProbe":
        """Per-snapshot cache of the loaded Bloom sidecars (immutable)."""
        cached = getattr(self, "_bloom_cache", None)
        if cached and cached[0] == snap.snapshot_id:
            return cached[1]
        probe = _bloom.BloomProbe(self, snap)
        self._bloom_cache = (snap.snapshot_id, probe)
        return probe

    # ---------------------------------------------------------------- writes
    def _bucket_clustered(
        self, df_with_bucket: DataFrame, assume_bucket_partitioned: bool
    ) -> DataFrame:
        """Cluster rows by bucket before a partitioned write: without
        this, every shuffle partition emits a file into every bucket dir
        (cores x buckets tiny files — file-open overhead then *grows*
        with parallelism). One exchange keyed on the bucket id keeps the
        file count O(num_buckets) at any core count. Size num_buckets >=
        cluster parallelism at scale.

        ``assume_bucket_partitioned=True`` skips that exchange: callers
        set it when the plan upstream already placed each bucket's rows
        in one partition — a ``bucket_partitioned`` batch, or a merge
        join whose inputs were key-partitioned to the bucket layout
        (bucketed scan + ``bucket_partitioned`` events). The contract is
        PHYSICAL co-location only, which survives operators Catalyst
        reports as UnknownPartitioning (a full-outer SMJ's output rows
        never leave the partition their key hashed to). Worst case if an
        upstream plan change breaks the assumption: the write emits more
        files per bucket — never wrong rows — because the partitionBy
        listing picks up every file regardless of which task wrote it.
        """
        if assume_bucket_partitioned:
            return df_with_bucket
        return df_with_bucket.repartition(
            self.num_buckets, F.col(self.BUCKET_COL)
        )

    def write_data_files(
        self,
        df_with_bucket: DataFrame,
        commit_tag: str,
        assume_bucket_partitioned: bool = False,
    ) -> tuple[dict[str, list[str]], dict[str, list[str]]]:
        """THE data-file writer: every write of the engine (CoW apply,
        append, compaction, rebucket, MoR deltas) lands its parquet files
        here, so the write rules live in one place. Writes ``df`` (already
        carrying _bucket) under a unique commit dir and returns
        ``(current, history)`` bucket->paths maps.

        - **Physical names**: logical columns are renamed to their birth
          names (rename evolution, see the mapping block above read()).
        - **File families**: a frame with ``is_current`` is split in ONE
          pass — rows with ``is_current=false`` land in history files,
          everything else in current files (``partitionBy(_bucket, _ic)``
          on a COPY of the flag, so ``is_current`` itself stays a data
          column readable without partition discovery). This is what
          keeps SCD2 history append-only on disk: closed versions are
          written once, in the batch that closes them, and no later merge
          touches those bytes again. A frame without it (MoR deltas,
          plain tables) is all "current", in a ``_bucket=b/`` layout.
        - **Layout**: rows are clustered by bucket and optionally
          key-sorted (``write.sort_keys``).
        - **Writer-salted attempt dirs**: ``commit_tag`` is deterministic
          per unit of work (e.g. ``batch-0007/group-02``) so downstream
          path-prefix selection (changelog's ``hist_files_of_commit_tag``)
          can find a batch's files; each physical write lands in a
          subdirectory ``<tag>/attempt-<salt>/``, so no writer ever
          deletes or overwrites another writer's part files — the one
          duel outcome optimistic commit retry cannot repair (a loser
          rmtree'ing a winner's committed-or-about-to-commit files). A
          killed attempt's files leak as unreferenced orphans and are
          reclaimed by ``expire_snapshots`` (min-age guarded), exactly
          like crash orphans; a resumed run that finds a valid checkpoint
          manifest reuses the previous attempt's files instead of
          rewriting (orchestrator ``_sealed``).

        Callers pass :meth:`footer_stats` of the result to ``commit`` so
        every written file carries its data-skipping range.
        """
        out_dir = os.path.join(
            self.path, _DATA, commit_tag, f"attempt-{uuid.uuid4().hex[:8]}"
        )
        df = self._to_physical(df_with_bucket)
        parts = [self.BUCKET_COL]
        if "is_current" in df.columns:
            ic = F.coalesce(F.col("is_current"), F.lit(True)).cast("string")
            df = df.withColumn("_ic", ic)
            parts.append("_ic")
        (
            # _ic leads the sort so each family's rows are contiguous
            # (one open writer per family, not interleaved re-opens).
            self._key_sorted(
                self._bucket_clustered(df, assume_bucket_partitioned),
                extra=parts[1:],
            )
            .write.mode("overwrite")
            .partitionBy(*parts)
            .parquet(out_dir)
        )
        return self._list_families(out_dir)

    # Same method; perfbench/layers.py still wraps this name through the
    # class dict.
    write_data_files_split = write_data_files

    def remove_written(self, *fmaps: dict[str, list[str]]) -> None:
        """Delete the ``attempt-<salt>`` dirs holding files that
        :meth:`write_data_files` returned and no commit references."""
        attempts = {
            rel.split(f"{os.sep}{self.BUCKET_COL}=")[0]
            for fmap in fmaps for fl in fmap.values() for rel in fl
        }
        for rel in attempts:
            self.fs.rmtree(os.path.join(self.path, rel))

    def _key_sorted(self, df_with_bucket: DataFrame, extra: Sequence[str] = ()) -> DataFrame:
        """OPT-IN key-sorted writes (table property ``write.sort_keys``,
        Iceberg's sort-order-on-write): parquet row-group min/max stats on
        the leading key column become tight disjoint ranges, so a
        conversation point lookup prunes row groups instead of scanning
        the bucket, and key-clustered text compresses better (~7% smaller
        table measured). Local sort only — no extra shuffle (the bucket
        repartition already happened) — but the sort CPU costs ~10-20%
        ingest throughput on this box, so read-heavy tables opt in and
        the high-rate ingest default stays unsorted (MoR compaction is
        the natural place to sort later instead)."""
        # Property values may arrive as strings (CLI/env/config text):
        # "false"/"0"/"" must read as DISABLED, not truthy-enabled.
        v = self.snapshot.properties.get("write.sort_keys", False)
        if isinstance(v, str):
            v = v.strip().lower() not in ("", "false", "0", "no", "off")
        if not v:
            return df_with_bucket
        cols = [self.BUCKET_COL, *extra, *self.key_cols]
        return df_with_bucket.sortWithinPartitions(*cols)

    def _list_families(
        self, out_dir: str
    ) -> tuple[dict[str, list[str]], dict[str, list[str]]]:
        """(current, history) maps of one partitioned write: files under
        ``_bucket=b/_ic=false/`` are history; those under ``_bucket=b/``
        or ``_bucket=b/_ic=true/`` are current."""
        current: dict[str, list[str]] = {}
        history: dict[str, list[str]] = {}
        for entry in self.fs.listdir(out_dir):
            if not entry.startswith(f"{self.BUCKET_COL}="):
                continue
            bucket = entry.split("=", 1)[1]
            bdir = os.path.join(out_dir, entry)
            for sub in self.fs.listdir(bdir):
                if sub.startswith("_ic="):
                    fam = history if sub == "_ic=false" else current
                    sdir = os.path.join(bdir, sub)
                    names = [os.path.join(sdir, f) for f in self.fs.listdir(sdir)]
                else:
                    fam, names = current, [os.path.join(bdir, sub)]
                rels = [
                    os.path.relpath(n, self.path) for n in names if n.endswith(".parquet")
                ]
                if rels:
                    fam.setdefault(bucket, []).extend(rels)
        return current, history

    def footer_stats(
        self, *fmaps: dict[str, list[str]]
    ) -> tuple[dict[str, int], dict[str, list]]:
        """Per-bucket rows written AND per-file batch_id [min, max] ranges
        (the changelog data-skipping stats) of freshly written file maps,
        from parquet footers — driver-side metadata, no Spark job. Every
        writer passes the ranges to ``commit(new_file_stats=...)``; a
        file without one is scanned by every changelog read. Footer reads
        are independent ranged GETs, so they run on a thread pool: the
        serial loop was a per-batch driver cost that did not shrink with
        executor count (the family split doubled the file count and made
        it visible)."""
        from concurrent.futures import ThreadPoolExecutor

        paths = [(b, rel) for fmap in fmaps for b, fl in fmap.items() for rel in fl]

        def meta(p: tuple[str, str]):
            b, rel = p
            full = os.path.join(self.path, rel)
            return (
                b,
                rel,
                self.fs.parquet_num_rows(full),
                self.fs.parquet_column_minmax(full, "batch_id"),
            )

        rows: dict[str, int] = {}
        stats: dict[str, list] = {}
        with ThreadPoolExecutor(max_workers=16) as pool:
            for b, rel, n, mm in pool.map(meta, paths):
                rows[b] = rows.get(b, 0) + n
                if mm is not None:
                    stats[rel] = mm
        return rows, stats

    def append(self, df: DataFrame, batch_id: int | None = None, commit_tag: str | None = None) -> Snapshot:
        """Bulk append (the historical-load path, SURVEY S7). Rows carrying
        lineage are family-split on write so the current/history invariant
        holds for bulk-loaded data too."""
        tag = commit_tag or f"append-{uuid.uuid4().hex[:12]}"
        cur, hist = self.write_data_files(self.with_bucket(df), tag)
        return self.commit(
            new_files_by_bucket=cur,
            mode="append",
            batch_id=batch_id,
            append_hist_by_bucket=hist,
            new_file_stats=self.footer_stats(cur, hist)[1],
            summary={"operation": "append"},
        )

    def commit(
        self,
        new_files_by_bucket: dict[str, list[str]],
        mode: str,  # 'append' | 'replace'
        replaced_buckets: Iterable[int | str] | None = None,
        batch_id: int | None = None,
        new_schema: StructType | None = None,
        summary: dict | None = None,
        new_properties: dict | None = None,
        new_num_buckets: int | None = None,
        append_hist_by_bucket: dict[str, list[str]] | None = None,
        replace_hist: bool = False,
        new_file_stats: dict[str, list] | None = None,
        replace_bloom_index: list | None = None,
    ) -> Snapshot:
        """Produce the next snapshot and atomically flip VERSION to it.

        mode='append'  -> new files are added to their buckets.
        mode='replace' -> buckets in ``replaced_buckets`` get exactly the new
                          file lists (copy-on-write MERGE); all other buckets
                          carry forward untouched.

        The history family is APPEND-ONLY under both modes
        (``append_hist_by_bucket`` — a CDC merge only ever adds newly
        closed versions); maintenance rewrites (compact/rebucket) pass
        ``replace_hist=True`` to swap the replaced buckets' history files
        for the freshly clustered set instead.
        """
        parent = self.snapshot
        files = {b: list(v) for b, v in parent.files.items()}
        hist = {b: list(v) for b, v in parent.hist_files.items()}
        if mode == "append":
            for b, fl in new_files_by_bucket.items():
                files.setdefault(b, []).extend(fl)
        elif mode == "replace":
            replaced = {str(x) for x in (replaced_buckets or new_files_by_bucket.keys())}
            for b in replaced:
                files.pop(b, None)
                if replace_hist:
                    hist.pop(b, None)
            for b, fl in new_files_by_bucket.items():
                files[b] = list(fl)
        else:
            raise ValueError(f"unknown commit mode {mode!r}")
        for b, fl in (append_hist_by_bucket or {}).items():
            hist.setdefault(b, []).extend(fl)

        committed = list(parent.committed_batches)
        if batch_id is not None:
            if batch_id in committed:
                # Exactly-once guard: the work was already committed.
                return parent
            committed.append(batch_id)

        # Data-skipping stats ride the snapshot: merge the new files'
        # batch_id ranges, then prune to files still referenced (replaced
        # buckets drop their entries with their files).
        referenced = {rel for fl in files.values() for rel in fl} | {
            rel for fl in hist.values() for rel in fl
        }
        stats = {
            rel: v
            for rel, v in {**parent.file_stats, **(new_file_stats or {})}.items()
            if rel in referenced and v is not None
        }

        # ---- Bloom secondary index (lake/bloom.py): entries whose files
        # were all replaced die with them; a commit adding current-family
        # files on an indexed table builds one fresh sidecar (one Spark
        # job over the new files — O(batch)). Built BEFORE the CAS flip so
        # a published snapshot always has filters for its own files; a
        # conflict-retried commit rebuilds (rare, and sidecars are
        # immutable + uniquely named, so a loser's sidecar is just an
        # expire-swept orphan).
        eff_props = parent.properties if new_properties is None else new_properties
        # replace_bloom_index swaps the whole entry list (sidecar
        # consolidation, lake/maintenance.consolidate_blooms); entries
        # are still filtered to referenced files as a safety net.
        bloom_index = [
            e
            for e in (
                parent.bloom_index
                if replace_bloom_index is None
                else replace_bloom_index
            )
            if any(r in referenced for r in e["files"])
        ]
        if eff_props.get(_bloom.PROP_COLUMN) and new_files_by_bucket:
            entry = _bloom.build_sidecar(
                self,
                new_files_by_bucket,
                properties=eff_props,
                schema=(new_schema or parent.schema),
            )
            if entry:
                bloom_index.append(entry)

        # ---- history manifests (Snapshot.hist_files docstring): the
        # on-disk form of the append-only history family. Normal commits
        # write ONE immutable delta manifest (this batch's closed files +
        # their stats) and carry the parent's refs forward — snapshot
        # body stays O(current files). Consolidation (one full manifest)
        # happens when maintenance rewrote history (replace_hist), when
        # upgrading a legacy inline-hist snapshot, or when the ref list
        # passes the threshold (bounding per-load manifest reads, the
        # manifest-compaction half of Iceberg's design).
        new_id = parent.snapshot_id + 1

        def _write_manifest(content: dict) -> str:
            rel = os.path.join(
                _META, f"manifest-{new_id:08d}-{uuid.uuid4().hex[:8]}.json"
            )
            self.fs.write_text(os.path.join(self.path, rel), json.dumps(content))
            return rel

        delta = append_hist_by_bucket or {}
        manifests = list(parent.hist_manifests)
        legacy_inline = bool(parent.hist_files) and not parent.hist_manifests
        if replace_hist or legacy_inline or (delta and len(manifests) >= 64):
            hist_rels = {rel for fl in hist.values() for rel in fl}
            mstats = {rel: v for rel, v in stats.items() if rel in hist_rels}
            manifests = (
                [_write_manifest({"hist": hist, "stats": mstats})] if hist else []
            )
        elif delta:
            delta_rels = {rel for fl in delta.values() for rel in fl}
            mstats = {rel: v for rel, v in stats.items() if rel in delta_rels}
            manifests.append(_write_manifest({"hist": delta, "stats": mstats}))

        snap = Snapshot(
            snapshot_id=new_id,
            parent_id=parent.snapshot_id,
            schema_json=(new_schema or parent.schema).jsonValue(),
            num_buckets=new_num_buckets or parent.num_buckets,
            key_cols=parent.key_cols,
            bucket_cols=parent.bucket_cols,
            files=files,
            hist_files=hist,
            file_stats=stats,
            committed_batches=committed,
            summary={
                **(summary or {}),
                "batch_id": batch_id,
                "committed_at": math.floor(time.time() * 1000) / 1000,
            },
            properties=parent.properties if new_properties is None else new_properties,
            hist_manifests=manifests,
            bloom_index=bloom_index,
        )
        self._flip_version(snap, expected_parent=parent.snapshot_id)
        self.snapshot = snap
        return snap

    @staticmethod
    def _is_safe_widening(old_t, new_t) -> bool:
        """Iceberg's safe type-promotion set: int→long, float→double,
        decimal precision increase at fixed scale. Metadata-only because
        Spark's parquet reader upcasts narrow physical values at scan
        time under the widened read schema (verified on Spark 4.1)."""
        from pyspark.sql.types import DecimalType, DoubleType, FloatType, IntegerType, LongType

        if isinstance(old_t, IntegerType) and isinstance(new_t, LongType):
            return True
        if isinstance(old_t, FloatType) and isinstance(new_t, DoubleType):
            return True
        if isinstance(old_t, DecimalType) and isinstance(new_t, DecimalType):
            return new_t.scale == old_t.scale and new_t.precision >= old_t.precision
        return False

    def rollback_to(self, snapshot_id: int) -> Snapshot:
        """Iceberg-style ROLLBACK: commit a NEW snapshot reproducing an
        older retained snapshot's state (files, history, schema,
        properties, committed batch ids). History stays linear — the
        rolled-back snapshots remain on disk for audit until expiry —
        and the rollback is itself an atomic VERSION flip, so readers
        see either head or the restored state, never between.

        Batch ids applied after the target LEAVE ``committed_batches``:
        a corrected batch can re-apply under its original id (exactly-
        once guards a lineage, not an id forever). The restored
        snapshot's data files are necessarily still on disk — a
        snapshot readable here was in every expiry's keep set, and
        expiry retains kept snapshots' files.

        CONSUMER WARNING: a changelog consumer whose consumed set
        includes rolled-back batch ids holds their effects in its state
        while the table no longer does. Consumer refresh detects
        ``consumed ⊄ committed`` and refuses with a rebuild instruction
        rather than silently diverging."""
        self.refresh()
        parent = self.snapshot
        if snapshot_id == parent.snapshot_id:
            return parent
        old = self.read_snapshot(snapshot_id)  # hydrated: full file maps
        props = dict(old.properties)
        # Rollback INVALIDATION LOG: batch ids whose effects this rollback
        # removed, appended to the (parent-chain) log rather than the
        # restored properties — a corrected batch re-applying under its
        # original id would otherwise defeat the consumer divergence
        # guard: a consumer that folded the POISONED batch and refreshes
        # only after the re-apply sees consumed ⊆ committed and silently
        # keeps the poisoned effects. Consumers record how many log
        # entries they have seen (``rollback_epoch``) and refuse when a
        # later entry names a batch they consumed (changelog.
        # check_rollback_invalidations). The parent's log is carried even
        # when this rollback removes nothing (e.g. it UNDOES an earlier
        # rollback): restoring the target's older log would shrink it
        # below a consumer's recorded epoch and hide the next entry.
        removed = sorted(set(parent.committed_batches) - set(old.committed_batches))
        invs = list(parent.properties.get("rollback.invalidations", []))
        if removed:
            invs.append({
                "removed_batches": removed,
                "from_snapshot": parent.snapshot_id,
                "to_snapshot": snapshot_id,
            })
        props.pop("rollback.invalidations", None)
        if invs:
            props["rollback.invalidations"] = invs
        snap = Snapshot(
            snapshot_id=parent.snapshot_id + 1,
            parent_id=parent.snapshot_id,
            schema_json=old.schema_json,
            num_buckets=old.num_buckets,
            key_cols=old.key_cols,
            bucket_cols=old.bucket_cols,
            files={b: list(v) for b, v in old.files.items()},
            hist_files={b: list(v) for b, v in old.hist_files.items()},
            file_stats=dict(old.file_stats),
            committed_batches=list(old.committed_batches),
            summary={
                "operation": "rollback",
                "to": snapshot_id,
                "committed_at": math.floor(time.time() * 1000) / 1000,
            },
            properties=props,
            hist_manifests=list(old.hist_manifests),
            bloom_index=list(old.bloom_index),
        )
        self._flip_version(snap, expected_parent=parent.snapshot_id)
        self.snapshot = snap
        return snap

    # Properties the engine itself maintains: user writes through
    # set_properties would corrupt layout/evolution/MoR state or the
    # consumers' rollback guard.
    _PROTECTED_PROPS = (
        "bucket.hash", "column.map", "delta_batches", "rollback.invalidations"
    )

    def set_properties(self, updates: dict, batch_id: int | None = None) -> Snapshot:
        """ALTER TABLE SET TBLPROPERTIES: metadata-only commit merging
        ``updates`` into the table properties; a ``None`` value UNSETS
        its key (e.g. retire the Bloom index column before re-pointing
        it). Engine-internal keys (bucket layout, rename map, pending
        MoR deltas, rollback-invalidation log) are refused."""
        bad = set(updates) & set(self._PROTECTED_PROPS)
        if bad:
            raise ValueError(
                f"properties {sorted(bad)} are engine-maintained; use the "
                "dedicated APIs (rebucket / rename_column / compaction / "
                "rollback_to)"
            )
        props = {
            k: v
            for k, v in {**self.snapshot.properties, **updates}.items()
            if v is not None
        }
        return self.commit(
            new_files_by_bucket={},
            mode="append",
            batch_id=batch_id,
            new_properties=props,
            summary={"operation": "set-properties", "keys": sorted(updates)},
        )

    def evolve_schema(self, new_schema: StructType, batch_id: int | None = None) -> Snapshot:
        """Metadata-only transactional schema evolution: added columns and
        SAFE TYPE WIDENING (int→long, float→double, decimal precision
        increase). Drops, narrowings, and incompatible retypes are
        rejected; so is widening a bucket/key column — Spark's hash
        functions are type-sensitive, so widening a bucketing column
        would silently remap every row's bucket and split keys across
        buckets (the layout change that requires ``rebucket`` instead).
        """
        old = self.schema
        names = new_schema.fieldNames()
        dup = sorted({n for n in names if names.count(n) > 1})
        if dup:
            raise ValueError(f"schema evolution may not duplicate column(s) {dup}")
        new_names = {f.name: f for f in new_schema.fields}
        protected = set(self.snapshot.bucket_cols) | set(self.key_cols)
        for f_old in old.fields:
            f_new = new_names.get(f_old.name)
            if f_new is None:
                raise ValueError(f"schema evolution may not drop column {f_old.name!r}")
            if f_new.dataType != f_old.dataType:
                if not self._is_safe_widening(f_old.dataType, f_new.dataType):
                    raise ValueError(
                        f"schema evolution may not retype {f_old.name!r}: "
                        f"{f_old.dataType} -> {f_new.dataType}"
                    )
                if f_old.name in protected:
                    raise ValueError(
                        f"may not widen bucket/key column {f_old.name!r}: hash "
                        "bucketing is type-sensitive (use rebucket for layout "
                        "changes)"
                    )
                if f_old.name == self.snapshot.properties.get(_bloom.PROP_COLUMN):
                    # xxhash64 is type-sensitive too: existing sidecars
                    # hashed the narrow type, and a widened probe would
                    # wrongly prune every pre-widening file.
                    raise ValueError(
                        f"may not widen the Bloom-indexed column "
                        f"{f_old.name!r}: existing sidecars hashed the "
                        f"narrow type — unset the {_bloom.PROP_COLUMN!r} "
                        "property first"
                    )
        # Collision-safe re-ADD: an added column whose name was ever used
        # as a physical name (a retired dropped column, or another
        # column's birth name) gets a FRESH physical identity so the old
        # files' bytes cannot resurrect into it (Iceberg's fresh-field-id
        # rule). Old files simply lack the fresh physical column →
        # null-fill, exactly like any added column.
        cmap = self._colmap()
        retired = list(self.snapshot.properties.get(self._RETIRED_PROP, []))
        in_use_physical = {cmap.get(f.name, f.name) for f in old.fields} | set(
            retired
        )
        added = [f.name for f in new_schema.fields if f.name not in {g.name for g in old.fields}]
        for name in added:
            if name in in_use_physical:
                n = 2
                while f"{name}__r{n}" in in_use_physical:
                    n += 1
                cmap[name] = f"{name}__r{n}"
                in_use_physical.add(cmap[name])
        new_properties = None
        if cmap != self._colmap():
            new_properties = {
                **self.snapshot.properties,
                self._COLMAP_PROP: cmap,
            }
        return self.commit(
            new_files_by_bucket={},
            mode="append",
            batch_id=batch_id,
            new_schema=new_schema,
            new_properties=new_properties,
            summary={"operation": "evolve-schema", "columns": [f.name for f in new_schema.fields]},
        )

    _PROTECTED_RENAME = ("is_current", "effective_ts", "end_ts", "batch_id")

    def _check_renameable(self, name: str, op: str) -> None:
        if name not in {f.name for f in self.schema.fields}:
            raise ValueError(f"no such column {name!r}")
        if name in set(self.snapshot.bucket_cols) | set(self.key_cols):
            raise ValueError(
                f"may not {op} bucket/key column {name!r} — the business "
                "key is the table's identity (merge joins, checkpoint "
                "manifests and consumers reference it)"
            )
        if name in self._PROTECTED_RENAME:
            raise ValueError(f"may not {op} lineage column {name!r}")
        if self.snapshot.properties.get("delta_batches"):
            # Deltas now store physical names like every data file, but
            # delta files written before they shared write_data_files
            # carry logical names and would misread after the change.
            raise ValueError(
                f"may not {op} a column while merge-on-read delta batches "
                "are pending — compact first"
            )
        if name == self.snapshot.properties.get(_bloom.PROP_COLUMN):
            raise ValueError(
                f"may not {op} the Bloom-indexed column {name!r}: existing "
                "sidecars are keyed on it — unset the "
                f"{_bloom.PROP_COLUMN!r} property first"
            )

    def rename_column(
        self, old: str, new: str, batch_id: int | None = None
    ) -> Snapshot:
        """Metadata-only transactional column RENAME (Iceberg
        ``ALTER TABLE ... RENAME COLUMN``): no file is touched — the
        files keep the column's birth (physical) name and the snapshot
        records logical→physical in ``column.map`` (see the mapping
        block above read()). Refuses key/bucket/lineage columns and
        tables with pending MoR deltas. Time travel is name-faithful:
        pre-rename snapshots read under the old name.

        Note for changelog consumers (IncrementalView and friends):
        their specs reference logical names captured at view creation —
        renaming a column a live view aggregates requires recreating
        the view (its checkpointed state is keyed on its own schema).
        """
        self._check_renameable(old, "rename")
        names = {f.name for f in self.schema.fields}
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        if new == LakeTable.BUCKET_COL or new == "_ic":
            raise ValueError(f"{new!r} is a reserved internal name")
        cmap = self._colmap()
        physical = cmap.pop(old, old)
        if physical != new:  # renaming BACK to the birth name clears the entry
            cmap[new] = physical
        new_schema = StructType(
            [
                StructField(new if f.name == old else f.name, f.dataType, f.nullable)
                for f in self.schema.fields
            ]
        )
        return self.commit(
            new_files_by_bucket={},
            mode="append",
            batch_id=batch_id,
            new_schema=new_schema,
            new_properties={**self.snapshot.properties, self._COLMAP_PROP: cmap},
            summary={"operation": "rename-column", "from": old, "to": new},
        )

    def drop_column(self, name: str, batch_id: int | None = None) -> Snapshot:
        """Metadata-only transactional column DROP: the physical column
        stays in old files (unread) and its name is RETIRED so a future
        re-add gets a fresh physical identity (no data resurrection).
        Same refusals as rename."""
        self._check_renameable(name, "drop")
        cmap = self._colmap()
        physical = cmap.pop(name, name)
        retired = list(self.snapshot.properties.get(self._RETIRED_PROP, []))
        if physical not in retired:
            retired.append(physical)
        new_schema = StructType(
            [f for f in self.schema.fields if f.name != name]
        )
        return self.commit(
            new_files_by_bucket={},
            mode="append",
            batch_id=batch_id,
            new_schema=new_schema,
            new_properties={
                **self.snapshot.properties,
                self._COLMAP_PROP: cmap,
                self._RETIRED_PROP: retired,
            },
            summary={"operation": "drop-column", "column": name},
        )

    def _flip_version(self, snap: Snapshot, expected_parent: int) -> None:
        meta = os.path.join(self.path, _META)
        # hydrate=False: the CAS check needs only snapshot_id — hydrating
        # would re-read every history manifest on every commit, re-adding
        # the O(table age) hot-path metadata cost manifests exist to cut.
        current = self._read_current_snapshot(self.path, self.fs, hydrate=False)
        if current.snapshot_id != expected_parent:
            raise CommitConflict(
                f"expected parent snapshot {expected_parent}, found {current.snapshot_id}"
            )
        snap_name = self._snap_name(snap.snapshot_id)
        # CREATE-ONLY snapshot materialization, mirroring WAP publish:
        # main commits and publishers allocate the same ids (parent+1),
        # and an unconditional PUT here could overwrite a concurrently
        # PUBLISHED, VERSION-referenced staged snapshot in the window
        # after this writer's parent check — the VERSION CAS below would
        # fail, but the clobber would already have corrupted what VERSION
        # points at. On a create conflict, re-read VERSION:
        # - moved past the parent -> a publish/commit won this id; raise
        #   CommitConflict WITHOUT touching the (live, referenced) file;
        # - still at the parent -> the existing file is an unreferenced
        #   orphan (a crashed writer's leftover — including OUR OWN
        #   pre-crash attempt, whose body legitimately differs: salted
        #   attempt paths and the committed_at stamp are per-attempt) —
        #   replace it and proceed to the VERSION CAS.
        # Residual window: a publisher that has created its file but not
        # yet flipped VERSION can still be overwritten here; then the two
        # VERSION CASes race and only a publisher-flip-first ordering is
        # harmful. Closing it fully needs content-addressed snapshot
        # names; the practical exposure is the microseconds between a
        # publisher's create and flip, vs. the whole commit previously.
        body = json.dumps(snap.to_json())
        snap_path = os.path.join(meta, snap_name)
        try:
            self.fs.create_text(snap_path, body)
        except CasConflict as e:
            now_current = self._read_current_snapshot(self.path, self.fs, hydrate=False)
            if now_current.snapshot_id != expected_parent:
                raise CommitConflict(
                    f"snapshot id {snap.snapshot_id} was committed/published "
                    "concurrently (VERSION advanced past the parent)"
                ) from e
            try:
                # Read first: on ObjectStoreFS replace_text is If-Match
                # against THIS handle's last-seen ETag (never-read means
                # create-only, which would re-conflict on the orphan).
                # If the orphan changes between the read and the PUT,
                # another writer is live — a real conflict.
                self.fs.read_text(snap_path)
                self.fs.replace_text(snap_path, body)
            except (CasConflict, FileNotFoundError) as e2:
                raise CommitConflict(
                    f"snapshot file {snap_name} is contended (another writer "
                    "replaced or removed it mid-recovery)"
                ) from e2
        # The point of atomicity: a crash before this replace leaves the old
        # snapshot live and the new one orphaned; after it, the new one is
        # fully live. There is no intermediate state. (Rename locally/HDFS;
        # conditional PUT on S3/GCS — see lake/fs.py. A CAS failure means a
        # writer snuck in between the parent check above and the PUT — the
        # same condition as the explicit check, same exception.)
        try:
            self.fs.replace_text(os.path.join(meta, _VERSION), snap_name)
        except CasConflict as e:
            raise CommitConflict(str(e)) from e
