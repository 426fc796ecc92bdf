"""Atomic multi-table catalog: one CAS publishes a batch across tables.

A TPC-DI incremental batch spans MANY tables — the reference applies
Batch2 to DimCustomer, DimAccount, DimTrade, ... as separate sequential
jobs (`Incremental1/*.py`, one script per table), so a reader joining
dimensions mid-load can see customer N's new address next to an account
row that still points at the old customer version. Single-table lake
formats (Iceberg, Delta) have the same gap; Project Nessie / Dremel
Arctic close it with a versioned CATALOG pointer — the design executed
here, on this engine's own metadata layer:

- The catalog is a directory with the same commit primitive as a table:
  `_meta/VERSION` names an immutable `cat-<n>.json` state file mapping
  ``table name -> (path, snapshot_id)``. Flipping VERSION is one CAS
  (rename locally, If-Match conditional PUT on object stores —
  ``TableFS.replace_text``, the identical seam `LakeTable._flip_version`
  uses).
- A multi-table transaction lets each table commit NORMALLY (its own
  VERSION advances — invisible to catalog readers, who resolve tables
  *through* the catalog at the recorded snapshot), then publishes every
  new snapshot id with that one CAS. There is no intermediate state: a
  crash after some table commits but before the catalog flip leaves
  catalog readers on the old, mutually-consistent snapshot set, and the
  retry resumes for free — per-table ``apply_batch`` is exactly-once
  (skips already-committed batches), re-staging picks up the already-
  committed snapshots, and the catalog commit publishes them.
- Concurrency is optimistic with DISJOINT-TABLE REBASE: a competing
  transaction that advanced the catalog but touched none of our staged
  tables is merged under a fresh version and the CAS retried; a
  competing commit to a staged table raises :class:`CatalogConflict`
  (same rule as Nessie's commit-conflict semantics).

Scale: catalog state is O(tables) JSON and one CAS per transaction —
no Spark jobs, no per-row cost; readers pay one extra small read to
resolve the catalog version. Snapshot retention contract: table
maintenance (``expire_snapshots``) must keep snapshots still referenced
by retained catalog versions — ``referenced_snapshot_ids`` is the
input for that policy (the same ref-retention rule as Iceberg branch
refs).

Reference parity: replaces the reference's strict per-table sequencing
(`Incremental1/` scripts run one after another; report §4.3) with an
atomic cross-table publish the reference cannot express.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from tpc_di_spark.lake.fs import CasConflict, LocalFS, TableFS
from tpc_di_spark.lake.table import _META, _VERSION, LakeTable, Snapshot
from tpc_di_spark.session import spark_map

_STATE_FMT = "cat-%012d.json"


class CatalogConflict(RuntimeError):
    """A concurrent transaction committed one of this txn's tables."""


@dataclass
class CatalogState:
    version: int
    parent: int | None
    tables: dict[str, dict]  # name -> {"path": str, "snapshot_id": int}
    summary: dict = field(default_factory=dict)

    def to_json(self) -> dict:
        return {
            "version": self.version,
            "parent": self.parent,
            "tables": self.tables,
            "summary": self.summary,
        }

    @staticmethod
    def from_json(d: dict) -> "CatalogState":
        return CatalogState(
            version=d["version"],
            parent=d.get("parent"),
            tables=d["tables"],
            summary=d.get("summary", {}),
        )


class CatalogTable:
    """A table resolved THROUGH the catalog: reads are pinned at the
    catalog-recorded snapshot, never the table's own (possibly further
    advanced) VERSION — the mechanism of cross-table consistency."""

    def __init__(self, table: LakeTable, snapshot: Snapshot):
        self.table = table
        self.snapshot = snapshot

    @property
    def snapshot_id(self) -> int:
        return self.snapshot.snapshot_id

    def read(self, buckets=None, family: str = "all"):
        return self.table.read(buckets=buckets, snapshot=self.snapshot, family=family)


class Catalog:
    def __init__(self, spark: SparkSession, path: str, state: CatalogState, fs: TableFS):
        self.spark = spark
        self.path = os.path.abspath(path)
        self.state = state
        self.fs = fs

    # ------------------------------------------------------------ lifecycle
    @classmethod
    def create(cls, spark: SparkSession, path: str, fs: TableFS | None = None) -> "Catalog":
        fs = fs or LocalFS()
        path = os.path.abspath(path)
        meta = os.path.join(path, _META)
        if fs.exists(os.path.join(meta, _VERSION)):
            raise FileExistsError(f"catalog already exists at {path}")
        fs.makedirs(meta)
        state = CatalogState(version=0, parent=None, tables={}, summary={"operation": "create"})
        fs.write_text(os.path.join(meta, _STATE_FMT % 0), json.dumps(state.to_json()))
        fs.replace_text(os.path.join(meta, _VERSION), _STATE_FMT % 0)
        return cls(spark, path, state, fs)

    @classmethod
    def load(cls, spark: SparkSession, path: str, fs: TableFS | None = None) -> "Catalog":
        fs = fs or LocalFS()
        path = os.path.abspath(path)
        return cls(spark, path, cls._read_state(path, fs), fs)

    @classmethod
    def exists(cls, path: str, fs: TableFS | None = None) -> bool:
        return (fs or LocalFS()).exists(
            os.path.join(os.path.abspath(path), _META, _VERSION)
        )

    @classmethod
    def _read_state(cls, path: str, fs: TableFS) -> CatalogState:
        meta = os.path.join(path, _META)
        name = fs.read_text(os.path.join(meta, _VERSION)).strip()
        return CatalogState.from_json(json.loads(fs.read_text(os.path.join(meta, name))))

    def refresh(self) -> "Catalog":
        self.state = self._read_state(self.path, self.fs)
        return self

    def state_at(self, version: int) -> CatalogState:
        """Catalog time travel: the immutable state file of ``version``."""
        p = os.path.join(self.path, _META, _STATE_FMT % version)
        return CatalogState.from_json(json.loads(self.fs.read_text(p)))

    # ------------------------------------------------------------- tables
    def _table_path(self, name: str) -> str:
        return os.path.join(self.path, "tables", name)

    def create_table(
        self,
        name: str,
        schema,
        num_buckets: int = 16,
        key_cols=("conv_id", "turn_idx"),
        properties: dict | None = None,
    ) -> LakeTable:
        """Create a table under the catalog and register it atomically
        (a one-table transaction on the catalog pointer)."""
        if name in self.state.tables:
            raise FileExistsError(f"table {name!r} already registered")
        t = LakeTable.create(
            self.spark,
            self._table_path(name),
            schema,
            num_buckets=num_buckets,
            key_cols=key_cols,
            properties=properties,
            fs=self.fs,
        )
        txn = self.transaction()
        txn.stage(name, t)
        txn.commit({"operation": "create-table", "table": name})
        return t

    def register(self, name: str, table: LakeTable) -> None:
        """Register an EXISTING table (created outside the catalog) at its
        current snapshot."""
        if name in self.state.tables:
            raise FileExistsError(f"table {name!r} already registered")
        txn = self.transaction()
        txn.stage(name, table.refresh())
        txn.commit({"operation": "register-table", "table": name})

    def table(self, name: str, version: int | None = None) -> CatalogTable:
        """Resolve ``name`` pinned at the catalog-recorded snapshot (of
        ``version``, default the loaded state). See :class:`CatalogTable`."""
        state = self.state if version is None else self.state_at(version)
        if name not in state.tables:
            raise KeyError(f"table {name!r} not in catalog version {state.version}")
        rec = state.tables[name]
        t = LakeTable.load(self.spark, rec["path"], fs=self.fs)
        return CatalogTable(t, t.read_snapshot(rec["snapshot_id"]))

    def live_table(self, name: str) -> LakeTable:
        """The table at its OWN latest version — the writer-side handle
        (orchestrators advance this; readers should use :meth:`table`)."""
        if name not in self.state.tables:
            raise KeyError(f"table {name!r} not in catalog")
        return LakeTable.load(self.spark, self.state.tables[name]["path"], fs=self.fs)

    def referenced_snapshot_ids(self, name: str, last_n_versions: int | None = None) -> set[int]:
        """Snapshot ids of ``name`` referenced by retained catalog
        versions — the keep-set input for ``expire_snapshots`` retention
        policy (walk back from the current version, newest first)."""
        out: set[int] = set()
        v = self.state.version
        seen = 0
        while v is not None and (last_n_versions is None or seen < last_n_versions):
            st = self.state_at(v)
            if name in st.tables:
                out.add(st.tables[name]["snapshot_id"])
            v = st.parent
            seen += 1
        return out

    # -------------------------------------------------------- transactions
    def transaction(self) -> "MultiTableTransaction":
        return MultiTableTransaction(self)


class MultiTableTransaction:
    """Stage per-table results, publish them with ONE catalog CAS.

    ``stage(name, table)`` records the table's CURRENT snapshot id (after
    the caller's own commits to it). ``commit`` CASes the catalog pointer
    from the version this transaction was opened at; on conflict it
    REBASES over concurrent commits that touched none of the staged
    tables and raises :class:`CatalogConflict` otherwise. Committing a
    state identical to what the catalog already records is a no-op (the
    idempotent-retry case after a crash between table commits and the
    catalog flip)."""

    def __init__(self, catalog: Catalog):
        self.catalog = catalog
        self.base = Catalog._read_state(catalog.path, catalog.fs)
        self.staged: dict[str, dict] = {}

    def stage(self, name: str, table: LakeTable) -> None:
        self.staged[name] = {
            "path": os.path.abspath(table.path),
            "snapshot_id": table.refresh().snapshot.snapshot_id,
        }

    def commit(self, summary: dict | None = None, _retries: int = 10) -> CatalogState:
        if not self.staged:
            raise ValueError("nothing staged")
        base = self.base
        for _ in range(_retries):
            if all(
                base.tables.get(n, {}).get("snapshot_id") == rec["snapshot_id"]
                and base.tables.get(n, {}).get("path") == rec["path"]
                for n, rec in self.staged.items()
            ):
                # Idempotent retry: everything staged is already published.
                self.catalog.state = base
                return base
            new = CatalogState(
                version=base.version + 1,
                parent=base.version,
                tables={**base.tables, **self.staged},
                summary=dict(summary or {}),
            )
            try:
                self._flip(base, new)
                self.catalog.state = new
                return new
            except (CatalogConflict, CasConflict):
                fresh = Catalog._read_state(self.catalog.path, self.catalog.fs)
                for n in self.staged:
                    before = self.base.tables.get(n, {}).get("snapshot_id")
                    now = fresh.tables.get(n, {}).get("snapshot_id")
                    if now != before:
                        raise CatalogConflict(
                            f"table {n!r} was committed concurrently "
                            f"(catalog snapshot {before} -> {now})"
                        ) from None
                base = fresh  # disjoint tables: rebase and retry the CAS
        raise CatalogConflict(f"gave up after {_retries} rebase attempts")

    def _flip(self, base: CatalogState, new: CatalogState) -> None:
        meta = os.path.join(self.catalog.path, _META)
        # Re-read VERSION so the CAS handle observes the current object
        # (ObjectStoreFS If-Match is per-handle, keyed on last read) and
        # so a concurrent flip since `base` fails fast.
        current = self.catalog.fs.read_text(os.path.join(meta, _VERSION)).strip()
        if current != _STATE_FMT % base.version:
            raise CatalogConflict(
                f"catalog advanced past version {base.version}"
            )
        # State files are immutable: create-only PUT (If-None-Match:* —
        # replace_text on a never-read path, see ObjectStoreFS) so a
        # racing transaction that computed the same version number can
        # never overwrite the winner's published state. Our OWN identical
        # file from a crashed earlier attempt is fine — proceed to the
        # VERSION flip; different content means a racer beat us here.
        state_path = os.path.join(meta, _STATE_FMT % new.version)
        body = json.dumps(new.to_json())
        try:
            self.catalog.fs.replace_text(state_path, body)
        except CasConflict:
            if self.catalog.fs.read_text(state_path) != body:
                raise CatalogConflict(
                    f"catalog version {new.version} already published by a "
                    "concurrent transaction"
                ) from None
        # The point of atomicity — identical mechanism and failure
        # semantics as LakeTable._flip_version.
        self.catalog.fs.replace_text(os.path.join(meta, _VERSION), _STATE_FMT % new.version)


def apply_batch_atomic(
    catalog: Catalog,
    work: dict[str, tuple],
    batch_id: int,
    summary: dict | None = None,
) -> dict[str, dict]:
    """Apply one CDC batch to MANY tables with atomic cross-table
    visibility: per-table exactly-once ``apply_batch`` (already-committed
    tables skip — the crash-retry path), then one catalog CAS publishes
    all of them. ``work`` maps table name -> (CdcOrchestrator, events).
    """
    txn = catalog.transaction()
    records = {}
    # Distinct tables, distinct commit chains: the per-table applies are
    # independent Spark jobs — overlap them (same reasoning and
    # crash-retry story as apply_batch_atomic_wap's staging pool;
    # exactly-once skip of already-committed tables is per-table state
    # and unaffected by ordering).
    applied = spark_map(
        catalog.spark,
        lambda it: (it[0], it[1][0].apply_batch(it[1][1], batch_id)),
        sorted(work.items()),
    )
    for name, rec in applied:
        records[name] = rec
        txn.stage(name, work[name][0].table)
    txn.commit(
        {"operation": "cdc-multi-table", "batch_id": batch_id, **(summary or {})}
    )
    return records


def apply_batch_atomic_wap(
    catalog: Catalog,
    work: dict[str, tuple],
    batch_id: int,
    audit_checks: dict[str, list] | None = None,
    summary: dict | None = None,
) -> dict[str, dict]:
    """Cross-table WRITE-AUDIT-PUBLISH: every table's slice stages on a
    WAP branch (`lake/wap.py`), every staged state is audited, and only
    if ALL pass does anything become visible — each branch fast-forwards
    its table's VERSION and one catalog CAS publishes the set. On any
    audit failure every branch aborts: neither direct-table nor
    catalog readers ever observe the batch (the plain
    :func:`apply_batch_atomic` hides partial applies from *catalog*
    readers only; this variant extends the guarantee to the tables
    themselves, at the cost of the per-table branch machinery).

    ``audit_checks`` maps table name -> list of WAP checks (missing name
    = no checks). Raises :class:`~tpc_di_spark.lake.wap.AuditFailed`
    with each failing result tagged by table.

    Crash-retry matrix (resume by re-calling with the same batch_id):
    mid-staging — branches resume at their staged heads, committed
    staged batches skip; after some branch publishes — published tables
    re-begin an EMPTY branch whose batch is already committed on main
    and are treated as audited (their audit happened before their
    publish), the rest re-audit, then the catalog CAS publishes the full
    consistent set; after all publishes — pure catalog republish.
    """
    from tpc_di_spark.lake.wap import AuditFailed, WapBranch

    branches: dict[str, WapBranch] = {}
    records: dict[str, dict] = {}

    def _stage(item):
        name, (orch, events) = item
        wap = WapBranch.begin(orch.table, f"xt-batch-{batch_id:06d}")
        return name, wap, orch.for_table(wap.staged).apply_batch(events, batch_id)

    # Each table's slice stages onto its OWN branch of its OWN table
    # (distinct ref files, scratch dirs, bucketed-view names), so the
    # per-table applies are independent Spark jobs — overlap them instead
    # of paying one merge-write latency per table serially. Crash-retry
    # is unchanged: a failure leaves the finished tables staged on their
    # branches, and re-calling resumes every branch at its staged head
    # exactly as the serial loop did.
    for name, wap, rec in spark_map(catalog.spark, _stage, sorted(work.items())):
        branches[name] = wap
        records[name] = rec

    def _audit(item):
        name, wap = item
        ref = wap.staged._read_ref()
        if ref["head_id"] == ref["fork_id"] and wap.base.is_batch_committed(
            batch_id
        ):
            # Crash-retry: this table already published this batch; its
            # audit passed before that publish. Nothing staged to audit.
            return [{"check": "already-published", "ok": True, "table": name}]
        results = wap.audit((audit_checks or {}).get(name, []), raise_on_fail=False)
        return [{**r, "table": name} for r in results]

    # One audit per table (each one aggregate pass over its own staged
    # state), overlapped across tables like the staging above.
    by_table = dict(
        zip(sorted(branches), spark_map(catalog.spark, _audit, sorted(branches.items())))
    )
    all_results = [r for rs in by_table.values() for r in rs]
    if not all(r["ok"] for r in all_results):
        for wap in branches.values():
            wap.abort()
        raise AuditFailed(all_results)

    txn = catalog.transaction()
    for name, wap in sorted(branches.items()):
        wap.publish()
        txn.stage(name, wap.base)
        records[name]["wap_audit"] = by_table[name]
    txn.commit(
        {
            "operation": "cdc-multi-table-wap",
            "batch_id": batch_id,
            **(summary or {}),
        }
    )
    return records
