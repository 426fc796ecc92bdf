"""Traced run: which engine functions are wrapped, and how the recorded
spans become the per-layer metrics listed in ``BENCHMARK.json``."""

from __future__ import annotations

import os
import statistics
from collections import defaultdict

FS_OPS = (
    "read_text", "write_text", "replace_text", "create_text", "exists", "makedirs",
    "listdir", "remove", "rmtree", "walk_files", "parquet_num_rows", "mtime",
    "parquet_column_minmax", "link_view",
)
# fs operations reported one by one (the others only count towards busy_s)
FS_REPORTED = ("read_text", "replace_text", "create_text", "exists", "makedirs",
               "rmtree", "parquet_num_rows", "parquet_column_minmax")


def _written(tracer, args, out) -> None:
    """Count the files and bytes a ``write_data_files*`` call produced
    (``args[0]`` is the table; file names are relative to its path)."""
    table_path = args[0].path
    maps = out if isinstance(out, tuple) else (out,)
    for fmap in maps:
        for rels in fmap.values():
            for rel in rels:
                tracer.add("lake.table.files_written", 1)
                tracer.add("lake.table.bytes_written", os.path.getsize(os.path.join(table_path, rel)))


def install(tracer) -> None:
    """Wrap each engine module's public entry points in spans."""
    from tpc_di_spark.cdc import apply, mor
    from tpc_di_spark.cdc.orchestrator import CdcOrchestrator
    from tpc_di_spark.lake import changelog
    from tpc_di_spark.lake.derived import DerivedTableSync
    from tpc_di_spark.lake.fs import LocalFS
    from tpc_di_spark.lake.incremental_view import IncrementalView
    from tpc_di_spark.lake.table import LakeTable
    from tpc_di_spark.lake.wap import WapBranch

    tracer.wrap(CdcOrchestrator, "apply_batch", "cdc.orchestrator.apply_batch")
    for fn in ("align_events", "lww_dedup", "merge_batch_rows", "insert_only_rows"):
        tracer.wrap(apply, fn, "cdc.apply.plan")
    tracer.wrap(LakeTable, "write_data_files_split", "lake.table.write", on_result=_written)
    tracer.wrap(LakeTable, "write_data_files", "lake.table.write", on_result=_written)
    tracer.wrap(LakeTable, "commit", "lake.table.commit")
    tracer.wrap(LakeTable, "refresh", "lake.table.metadata")
    tracer.wrap(LakeTable, "read_snapshot", "lake.table.metadata")
    tracer.wrap(LakeTable, "read_bucketed", "lake.table.read_bucketed")
    for op in FS_OPS:
        tracer.count_calls(LocalFS, op, f"lake.fs.{op}")
    tracer.wrap(WapBranch, "audit", "lake.wap.audit")
    tracer.wrap(WapBranch, "publish", "lake.wap.publish")
    tracer.wrap(IncrementalView, "refresh", "lake.incremental_view.refresh")
    tracer.wrap(DerivedTableSync, "refresh", "lake.derived.refresh")
    for fn in ("files_for_batch", "rows_created_in", "rows_closed_in", "rows_created_since",
               "rows_closed_since", "changed_keys_since"):
        tracer.wrap(changelog, fn, "lake.changelog")
    tracer.wrap(mor, "apply_batch_mor", "cdc.mor.apply")
    tracer.wrap(mor, "compact_deltas", "cdc.mor.compact")


# ------------------------------------------------------------ summarising
class _Tree:
    """Inclusive per-span figures: a span's own jobs and stages plus its
    children's. Codegen figures are read around the whole span, so they
    are inclusive already."""

    def __init__(self, spans):
        self.children = defaultdict(list)
        for sp in spans:
            if sp.parent is not None:
                self.children[id(sp.parent)].append(sp)
        self._memo = {}

    def incl(self, sp) -> dict:
        key = id(sp)
        if key not in self._memo:
            out = dict(sp.figures, jobs=len(sp.jobs))
            for ch in self.children[key]:
                for k, v in self.incl(ch).items():
                    if k not in ("compiles", "compile_s"):
                        out[k] += v
            out.update(compiles=sp.compiles, compile_s=sp.compile_s)
            self._memo[key] = out
        return self._memo[key]

    def descendants(self, sp):
        for ch in self.children[id(sp)]:
            yield ch
            yield from self.descendants(ch)


def _outermost(spans, name):
    """Spans called ``name`` not nested in another span of that name
    (a retried apply calls itself)."""
    out = []
    for sp in spans:
        p = sp.parent
        while p is not None and p.name != name:
            p = p.parent
        if sp.name == name and p is None:
            out.append(sp)
    return out


def per_layer(tracer, measured_wall_s: float, cores: int, baseline_rate: float | None,
              rate: float) -> dict:
    """Per-layer metrics by name: (value, unit)."""
    spans = tracer.spans
    tree = _Tree(spans)
    by_name = defaultdict(list)
    for sp in spans:
        by_name[sp.name].append(sp)

    def busy(name, within=None):
        pool = _outermost(spans if within is None else within, name)
        return sum(sp.busy_s for sp in pool)

    def incl_sum(name, key):
        return sum(tree.incl(sp)[key] for sp in _outermost(spans, name))

    out = {}
    apply_spans = by_name["cdc.orchestrator.apply_batch"]
    out["cdc.orchestrator.apply_batch.busy_s"] = (busy("cdc.orchestrator.apply_batch"), "s")
    out["cdc.orchestrator.apply_batch.self_s"] = (sum(sp.self_s for sp in apply_spans), "s")
    out["cdc.orchestrator.apply_batch.calls"] = (len(apply_spans), "count")
    out["cdc.apply.plan_s"] = (busy("cdc.apply.plan"), "s")

    # Tail batches: fixed per-batch costs.
    batches = by_name["batch"]
    nb = max(len(batches), 1)
    per_batch = lambda key: sum(tree.incl(b)[key] for b in batches) / nb  # noqa: E731
    out["spark.jobs_per_batch"] = (per_batch("jobs"), "count")
    out["spark.stages_per_batch"] = (per_batch("stages"), "count")
    out["spark.codegen_compiles"] = (per_batch("compiles"), "count")
    out["spark.codegen_compile_s"] = (per_batch("compile_s"), "s")
    commits = sum(
        1 for b in batches for d in tree.descendants(b) if d.name == "lake.table.commit"
    )
    out["lake.table.commits_per_batch"] = (commits / nb, "count")

    # Bulk copy-on-write phase: the fused read -> LWW -> merge -> write job.
    bulk = by_name["phase.cow_bulk"]
    bulk_incl = tree.incl(bulk[0]) if bulk else {}
    bulk_wall = bulk[0].busy_s if bulk else 0.0
    out["spark.executor_run_s"] = (bulk_incl.get("executor_run_s", 0.0), "s")
    out["spark.shuffle_write_bytes"] = (bulk_incl.get("shuffle_write_bytes", 0), "B")
    out["spark.core_utilization"] = (
        bulk_incl.get("executor_run_s", 0.0) / (bulk_wall * cores) if bulk_wall else 0.0, "ratio")
    bulk_spans = list(tree.descendants(bulk[0])) if bulk else []
    bulk_apply = busy("cdc.orchestrator.apply_batch", bulk_spans)
    bulk_write = busy("lake.table.write", bulk_spans)
    out["cow.write_share"] = (bulk_write / bulk_apply if bulk_apply else 0.0, "ratio")

    out["lake.table.write.busy_s"] = (busy("lake.table.write"), "s")
    out["lake.table.bytes_written"] = (tracer.counters["lake.table.bytes_written"][0], "B")
    out["lake.table.files_written"] = (tracer.counters["lake.table.files_written"][0], "count")
    for part in ("commit", "metadata", "read_bucketed"):
        out[f"lake.table.{part}.busy_s"] = (busy(f"lake.table.{part}"), "s")
    for op in FS_REPORTED:
        out[f"lake.fs.calls.{op}"] = (tracer.counters[f"lake.fs.{op}"][0], "count")
    out["lake.fs.busy_s"] = (sum(tracer.counters[f"lake.fs.{op}"][1] for op in FS_OPS), "s")

    out["lake.wap.audit.busy_s"] = (busy("lake.wap.audit"), "s")
    out["lake.wap.audit.jobs"] = (incl_sum("lake.wap.audit", "jobs"), "count")
    out["lake.wap.publish.busy_s"] = (busy("lake.wap.publish"), "s")
    for layer in ("lake.incremental_view.refresh", "lake.derived.refresh"):
        out[f"{layer}.busy_s"] = (busy(layer), "s")
        out[f"{layer}.jobs"] = (incl_sum(layer, "jobs"), "count")
    out["lake.changelog.busy_s"] = (busy("lake.changelog"), "s")
    out["lake.changelog.calls"] = (len(by_name["lake.changelog"]), "count")

    out["cdc.mor.apply.busy_s"] = (busy("cdc.mor.apply"), "s")
    out["cdc.mor.fold.busy_s"] = (busy("cdc.mor.fold"), "s")
    out["cdc.mor.compact.busy_s"] = (busy("cdc.mor.compact"), "s")
    lookups = by_name["lake.table.lookup"]
    out["lake.table.lookup.busy_s"] = (busy("lake.table.lookup"), "s")
    out["spark.jobs_per_lookup"] = (
        statistics.mean(tree.incl(sp)["jobs"] for sp in lookups) if lookups else 0.0, "count")

    tops = [sp for sp in spans if sp.parent is None]
    out["spark.failed_tasks"] = (sum(tree.incl(sp)["failed_tasks"] for sp in tops), "count")
    out["cdc.scaling_eff_1to4"] = (
        rate / (cores * baseline_rate) if baseline_rate else 0.0, "ratio")
    out["trace.overhead_s"] = (tracer.overhead_s, "s")
    out["trace.measured_wall_s"] = (measured_wall_s, "s")
    return out


def span_records(tracer) -> list[dict]:
    """Spans as JSON-ready records (written at the end of a traced run)."""
    ids = {id(sp): i for i, sp in enumerate(tracer.spans)}
    return [
        {
            "id": ids[id(sp)],
            "name": sp.name,
            "start": round(sp.start, 6),
            "end": round(sp.end, 6),
            "parent": ids.get(id(sp.parent)) if sp.parent is not None else None,
            "batch": sp.batch,
            "self_s": round(sp.self_s, 6),
            "jobs": sp.jobs,
            "compiles": sp.compiles,
            "compile_s": round(sp.compile_s, 6),
            **sp.figures,
        }
        for sp in tracer.spans
    ]
