"""Write-Audit-Publish (WAP): stage a batch on a BRANCH REF, audit the
staged table state, then publish it to readers with one atomic pointer
flip — or abort and leave the main table untouched.

This is the lake-native form of Iceberg's WAP pattern
(``spark.wap.branch`` / branch refs + ``fast_forward``): production
readers follow ``VERSION`` (main); a staging writer commits to
``_meta/refs/<branch>`` instead. Data files and snapshot metadata are
written under the SAME table directory either way — a publish moves no
data, it re-points main at the audited snapshot chain (fast-forward).

Why a CDC engine needs this: the reference pipeline loads then audits
(TPC-DI's audit phase — report §5.1.1 — runs *after* visibility, so a
bad batch is already live when the audit fails). WAP inverts that:
the batch becomes visible only after its invariants hold, and an audit
failure costs one ref delete, not a restore.

Mechanics on this table format:

- **Branch namespace.** Staged snapshots are written as
  ``snap-NNNNNNNN-wap-<branch>.json`` — same integer id chain,
  different file namespace — so a concurrent main commit can never be
  clobbered by (or clobber) staged metadata. The branch ref file holds
  the staged head id and the fork point.
- **Commit = CAS on the ref.** The staged handle is a full
  :class:`~tpc_di_spark.lake.table.LakeTable` (merge, MoR, schema
  evolution, maintenance all work unchanged); only its pointer flip
  targets the ref file, through the same ``TableFS.replace_text``
  conditional-PUT primitive as ``VERSION``.
- **Publish = verify fast-forward, materialize, CAS VERSION.** The
  staged chain is copied into the plain snapshot namespace with
  CREATE-ONLY conditional PUTs (``If-None-Match: *``) — a concurrent
  main commit allocating the same id between the fork check and the
  copy surfaces as :class:`CommitConflict` instead of being silently
  clobbered — then ``VERSION`` is CAS-flipped to the staged head. A
  crash between the two leaves only unreferenced plain-named files
  that a publish retry recognizes as its own (byte-identical) and
  skips — never a torn table. If main advanced past the fork, publish
  raises :class:`~tpc_di_spark.lake.table.CommitConflict` and the
  branch remains intact for re-staging.
- **Crash-resumable staging.** ``WapBranch.begin`` on an existing ref
  resumes at its head (the orchestrator's batch-id exactly-once guard
  then skips work the staged chain already holds).
- **Expiry safety.** ``referenced_snapshot_ids`` exposes every live
  ref's fork point for ``expire_snapshots(keep_snapshot_ids=...)``, and
  ``live_branch_files`` the staged chains' data files — the same
  branch-ref retention contract as the catalog
  (`lake/catalog.py`, `lake/maintenance.py`).

Reference parity: TPC-DI's post-load audit queries
(`/root/reference` report §5.1.1) are the *checks*; the staging/publish
transaction around them is the part the reference cannot express (its
Redshift loads are visible per-row as they insert).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Callable, Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from tpc_di_spark.lake.fs import CasConflict, TableFS
from tpc_di_spark.lake.table import (
    CommitConflict,
    LakeTable,
    Snapshot,
    _META,
    _VERSION,
)

_REFS_DIR = "refs"


class AuditFailed(RuntimeError):
    """One or more audit checks failed; carries the full result list."""

    def __init__(self, results: list[dict]):
        self.results = results
        failed = [r["check"] for r in results if not r["ok"]]
        super().__init__(f"audit failed: {failed}")


def _refs_root(table: LakeTable) -> str:
    return os.path.join(table.path, _META, _REFS_DIR)


def _branch_snap_name(branch: str, snapshot_id: int) -> str:
    return f"snap-{snapshot_id:08d}-wap-{branch}.json"


class _BranchTable(LakeTable):
    """A LakeTable handle whose commits land on a branch ref.

    Inherits every read/write/merge path unchanged; only pointer
    resolution (refresh / read_snapshot) and the commit flip differ.
    """

    def __init__(self, spark, path, snapshot, fs, branch: str):
        super().__init__(spark, path, snapshot, fs=fs)
        self.branch = branch

    @property
    def _ref_path(self) -> str:
        return os.path.join(self.path, _META, _REFS_DIR, self.branch)

    def _read_ref(self) -> dict:
        return json.loads(self.fs.read_text(self._ref_path))

    def refresh(self) -> "LakeTable":
        ref = self._read_ref()
        self.snapshot = self.read_snapshot(ref["head_id"])
        return self

    def read_snapshot(self, snapshot_id: int, hydrate: bool = True) -> Snapshot:
        # Branch namespace first (staged snapshots), then main (the fork
        # point and everything below it live in the plain namespace).
        p = os.path.join(
            self.path, _META, _branch_snap_name(self.branch, snapshot_id)
        )
        if self.fs.exists(p):
            snap = Snapshot.from_json(json.loads(self.fs.read_text(p)))
            return self._hydrate(snap, self.path, self.fs) if hydrate else snap
        return super().read_snapshot(snapshot_id, hydrate)

    def _flip_version(self, snap: Snapshot, expected_parent: int) -> None:
        ref = self._read_ref()  # records the ETag for the CAS below
        if ref["head_id"] != expected_parent:
            raise CommitConflict(
                f"branch {self.branch!r}: expected head {expected_parent}, "
                f"found {ref['head_id']}"
            )
        name = _branch_snap_name(self.branch, snap.snapshot_id)
        self.fs.write_text(
            os.path.join(self.path, _META, name), json.dumps(snap.to_json())
        )
        try:
            self.fs.replace_text(
                self._ref_path,
                json.dumps({**ref, "head_id": snap.snapshot_id}),
            )
        except CasConflict as e:
            raise CommitConflict(str(e)) from e


class WapBranch:
    """One write-audit-publish cycle over a :class:`LakeTable`.

    >>> wap = WapBranch.begin(table, "batch-7-audit")
    >>> orch = CdcOrchestrator(wap.staged)        # stage through any path
    >>> orch.apply_batch(events, batch_id=7)
    >>> wap.audit([unique_business_key(), row_count_delta(max_delta=50_000)])
    >>> wap.publish()                             # one CAS; readers flip
    """

    def __init__(self, base: LakeTable, name: str, staged: _BranchTable):
        self.base = base
        self.name = name
        self.staged = staged

    # ------------------------------------------------------------ lifecycle
    @classmethod
    def begin(cls, table: LakeTable, name: str) -> "WapBranch":
        """Open (or crash-resume) a staging branch forked at main's
        current snapshot."""
        if "/" in name or name.startswith("."):
            raise ValueError(f"invalid branch name {name!r}")
        table.refresh()
        ref_path = os.path.join(_refs_root(table), name)
        fs = table.fs
        if fs.exists(ref_path):
            staged = _BranchTable(
                table.spark, table.path, table.snapshot, fs, name
            ).refresh()
            return cls(table, name, staged)  # resume at the staged head
        fs.makedirs(_refs_root(table))
        fork = table.snapshot.snapshot_id
        try:
            # Create-only PUT (If-None-Match:* on object stores, atomic
            # link-create on POSIX): two racers opening the same branch
            # resolve to one winner on every backend.
            fs.create_text(
                ref_path, json.dumps({"fork_id": fork, "head_id": fork})
            )
        except CasConflict as e:
            raise CommitConflict(
                f"branch {name!r} was created concurrently"
            ) from e
        staged = _BranchTable(table.spark, table.path, table.snapshot, fs, name)
        return cls(table, name, staged)

    def audit(
        self,
        checks: Sequence[Callable[["WapBranch"], dict]],
        raise_on_fail: bool = True,
    ) -> list[dict]:
        """Run checks against the STAGED state (each check returns
        ``{"check": name, "ok": bool, ...detail}``); results come back in
        input order.

        Every :class:`FoldedCheck` is computed in ONE pass over the staged
        live rows: one ``groupBy(key_cols)`` of all their per-key
        aggregates, then one global sum. Any other check (``foreign_key``,
        a custom callable) runs after it, one at a time."""
        totals = iter(self._fold([c for c in checks if isinstance(c, FoldedCheck)]))
        results = [
            {"check": c.name, **c.result(self, next(totals))}
            if isinstance(c, FoldedCheck) else c(self)
            for c in checks
        ]
        if raise_on_fail and any(not r["ok"] for r in results):
            raise AuditFailed(results)
        return results

    def _fold(self, checks: list["FoldedCheck"]) -> list[int]:
        """Each check's per-key aggregate summed over the staged live
        rows, all in one aggregate plan."""
        if not checks:
            return []
        names = [f"_c{i}" for i in range(len(checks))]
        row = (
            _live(self.staged)
            .groupBy(*self.staged.key_cols)
            .agg(*[F.expr(c.per_key).alias(n) for c, n in zip(checks, names)])
            .agg(*[F.coalesce(F.sum(n), F.lit(0)).alias(n) for n in names])
            .collect()[0]
        )
        return [row[n] for n in names]

    def publish(self, drop_branch: bool = True) -> Snapshot:
        """Fast-forward main to the audited staged head: materialize the
        staged chain into the plain snapshot namespace, CAS ``VERSION``.
        Raises :class:`CommitConflict` if main advanced past the fork."""
        fs = self.staged.fs
        ref = self.staged._read_ref()
        fork, head = ref["fork_id"], ref["head_id"]
        if head == fork:  # nothing staged — publishing is a no-op
            if drop_branch:
                self._drop_ref()
            return self.base.refresh().snapshot
        # _read_current_snapshot records VERSION's ETag, making the
        # replace below a true conditional PUT on object stores.
        current = LakeTable._read_current_snapshot(
            self.base.path, fs, hydrate=False
        )
        if current.snapshot_id != fork:
            raise CommitConflict(
                f"cannot fast-forward branch {self.name!r}: main advanced "
                f"{fork} -> {current.snapshot_id} since the fork"
            )
        meta = os.path.join(self.base.path, _META)
        for sid in range(fork + 1, head + 1):
            text = fs.read_text(
                os.path.join(meta, _branch_snap_name(self.name, sid))
            )
            # CREATE-ONLY conditional PUT: an unconditional copy here
            # would race a concurrent main commit — main allocates the
            # same ids (parent+1), so a main snap-NNNNNNNN.json landing
            # between the fork check above and this copy must NOT be
            # clobbered with staged content (main's VERSION could then
            # resolve to the staged snapshot while its own acknowledged
            # commit is silently lost). A pre-existing BYTE-IDENTICAL
            # file is this publish's own crash leftover (crash between
            # materialize and the VERSION CAS) — idempotent, skip it;
            # anything else is a concurrent main commit -> CommitConflict,
            # branch left intact for re-staging.
            dst = os.path.join(meta, LakeTable._snap_name(sid))
            if fs.exists(dst):
                if fs.read_text(dst) == text:
                    continue
                raise CommitConflict(
                    f"cannot fast-forward branch {self.name!r}: main "
                    f"committed snapshot {sid} concurrently"
                )
            try:
                fs.create_text(dst, text)
            except CasConflict as e:
                raise CommitConflict(
                    f"cannot fast-forward branch {self.name!r}: main "
                    f"committed snapshot {sid} concurrently"
                ) from e
        try:
            fs.replace_text(
                os.path.join(meta, _VERSION), LakeTable._snap_name(head)
            )
        except CasConflict as e:
            raise CommitConflict(str(e)) from e
        if drop_branch:
            self._drop_ref()
        return self.base.refresh().snapshot

    def abort(self) -> None:
        """Delete the ref and its staged snapshot metadata; staged data
        files become ordinary unreferenced orphans (reclaimed by
        ``expire_snapshots``, same as crash orphans). Main is untouched.

        Also purges the orchestrator's mid-batch checkpoint manifests and
        metrics for batches that exist ONLY on the staged chain: those
        checkpoints memoize the merge OUTPUT for their batch id, and a
        corrected re-ingest under the same id (the whole point of
        aborting) must not resume from the bad batch's files."""
        fs = self.staged.fs
        ref_path = os.path.join(_refs_root(self.base), self.name)
        if fs.exists(ref_path):
            ref = json.loads(fs.read_text(ref_path))
            try:
                head = self.staged.read_snapshot(ref["head_id"], hydrate=False)
                fork = self.base.read_snapshot(ref["fork_id"], hydrate=False)
                staged_only = set(head.committed_batches) - set(
                    fork.committed_batches
                )
            except (FileNotFoundError, OSError):
                staged_only = set()
            from tpc_di_spark.cdc.orchestrator import metrics_path, staging_dir

            for bid in staged_only:
                fs.rmtree(staging_dir(self.base.path, bid))
                for kind in ("batch", "compact-delta"):
                    mp = metrics_path(self.base.path, bid, kind)
                    if fs.exists(mp):
                        fs.remove(mp)
        self._drop_ref()

    def _drop_ref(self) -> None:
        fs = self.staged.fs
        ref_path = os.path.join(_refs_root(self.base), self.name)
        if fs.exists(ref_path):
            ref = json.loads(fs.read_text(ref_path))
            meta = os.path.join(self.base.path, _META)
            for sid in range(ref["fork_id"] + 1, ref["head_id"] + 1):
                p = os.path.join(meta, _branch_snap_name(self.name, sid))
                if fs.exists(p):
                    fs.remove(p)
            fs.remove(ref_path)


# ---------------------------------------------------------------- retention
def list_branches(table: LakeTable) -> dict[str, dict]:
    root = _refs_root(table)
    out = {}
    for name in table.fs.listdir(root) if table.fs.exists(root) else []:
        out[name] = json.loads(table.fs.read_text(os.path.join(root, name)))
    return out


def referenced_snapshot_ids(table: LakeTable) -> set[int]:
    """Fork points of live branches — feed to
    ``expire_snapshots(keep_snapshot_ids=...)`` so a staged branch's base
    stays readable until publish/abort (Iceberg branch-ref retention)."""
    return {ref["fork_id"] for ref in list_branches(table).values()}


def live_branch_manifests(table: LakeTable) -> set[str]:
    """Table-relative history-manifest paths referenced by staged branch
    chains (staged commits write delta manifests into the shared _meta
    namespace; expiry must keep them until publish/abort)."""
    out: set[str] = set()
    for name, ref in list_branches(table).items():
        handle = _BranchTable(table.spark, table.path, table.snapshot, table.fs, name)
        for sid in range(ref["fork_id"] + 1, ref["head_id"] + 1):
            out.update(handle.read_snapshot(sid, hydrate=False).hist_manifests)
    return out


def live_branch_blooms(table: LakeTable) -> set[str]:
    """Table-relative Bloom sidecar paths referenced by staged branch
    chains (staged commits on indexed tables build sidecars into the
    shared _meta namespace; expiry must keep them until publish/abort)."""
    out: set[str] = set()
    for name, ref in list_branches(table).items():
        handle = _BranchTable(table.spark, table.path, table.snapshot, table.fs, name)
        for sid in range(ref["fork_id"] + 1, ref["head_id"] + 1):
            out.update(
                e["rel"]
                for e in handle.read_snapshot(sid, hydrate=False).bloom_index
            )
    return out


def live_branch_files(table: LakeTable) -> set[str]:
    """Table-relative data files referenced by any staged branch chain —
    expire_snapshots must not treat these as orphans."""
    live: set[str] = set()
    for name, ref in list_branches(table).items():
        handle = _BranchTable(table.spark, table.path, table.snapshot, table.fs, name)
        for sid in range(ref["fork_id"] + 1, ref["head_id"] + 1):
            s = handle.read_snapshot(sid)
            for fmap in (s.files, s.hist_files):
                for fl in fmap.values():
                    live.update(fl)
            for b in s.properties.get("delta_batches", []):
                for fl in b["files"].values():
                    live.update(fl)
    return live


# ------------------------------------------------------------ audit checks
def _live(table: LakeTable, snapshot: Snapshot | None = None) -> DataFrame:
    """The live rows: the current family, ``is_current`` rows only."""
    df = table.read(snapshot=snapshot, family="current")
    return df.filter(F.col("is_current")) if "is_current" in df.columns else df


@dataclass(frozen=True, eq=False)
class FoldedCheck:
    """A standard check, computed in the audit's one pass over the staged
    live rows. ``per_key`` is a SQL aggregate over one business-key group
    (text, so a check can be built before a Spark session exists); the
    pass sums it over all groups, and ``result`` maps ``(wap, total)`` to
    the result's ``ok`` and detail fields. Calling it audits it alone."""

    name: str
    per_key: str
    result: Callable[["WapBranch", int], dict]

    def __call__(self, wap: "WapBranch") -> dict:
        return wap.audit([self], raise_on_fail=False)[0]


def unique_business_key() -> FoldedCheck:
    """No duplicate live (key_cols) rows — THE invariant the LWW merge
    maintains; a violation means a broken batch or a buggy transform."""
    return FoldedCheck(
        "unique_business_key",
        "CAST(count(1) > 1 AS BIGINT)",
        lambda _wap, n: {"ok": n == 0, "duplicate_keys": n},
    )


def not_null(cols: Sequence[str]) -> FoldedCheck:
    """No live row has a NULL in any of ``cols``."""
    pred = " OR ".join(f"`{c.replace('`', '``')}` IS NULL" for c in cols)
    return FoldedCheck(
        f"not_null({','.join(cols)})",
        f"count_if({pred or 'false'})",
        lambda _wap, n: {"ok": n == 0, "null_rows": n},
    )


def row_count_delta(
    min_delta: int | None = None, max_delta: int | None = None
) -> FoldedCheck:
    """Live-row growth between the fork and the staged head stays inside
    the expected envelope — the 'did this batch look like a batch'
    sanity gate (TPC-DI audit's row-count checks, report §5.1.1). The
    staged count comes from the audit's pass, the fork's from one count."""

    def result(wap: WapBranch, staged_rows: int) -> dict:
        fork = wap.base.read_snapshot(wap.staged._read_ref()["fork_id"])
        delta = staged_rows - _live(wap.base, fork).count()
        ok = (min_delta is None or delta >= min_delta) and (
            max_delta is None or delta <= max_delta
        )
        return {"ok": ok, "delta": delta}

    return FoldedCheck("row_count_delta", "count(1)", result)


def foreign_key(
    cols: Sequence[str],
    parent: DataFrame,
    parent_cols: Sequence[str] | None = None,
) -> Callable[[WapBranch], dict]:
    """Referential integrity: every live, fully-non-NULL ``cols`` tuple
    in the staged table must exist in ``parent[parent_cols]`` (SQL FK
    semantics — NULL child keys are exempt). The reference's audit phase
    runs FK row-count checks after load (report §5.1.1); here the same
    check gates visibility. ``parent`` is captured at check-creation
    time — pass a catalog-pinned or snapshot-pinned read for a
    consistent cross-table audit."""
    pcols = list(parent_cols or cols)

    def check(wap: WapBranch) -> dict:
        child = _live(wap.staged).select(*cols).na.drop(how="any", subset=list(cols))
        keys = parent.select(
            *[F.col(p).alias(c) for c, p in zip(cols, pcols)]
        ).distinct()
        orphans = child.join(keys, on=list(cols), how="left_anti").count()
        return {
            "check": f"foreign_key({','.join(cols)})",
            "ok": orphans == 0,
            "orphan_rows": orphans,
        }

    return check
