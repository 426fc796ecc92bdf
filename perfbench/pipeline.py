"""The measured pipeline: land seeded change events, then drive one lake
table through the regimes below in turn, timing each operation.

1. ``cow_bulk`` — historical load, then large incremental copy-on-write
   batches (the last one adds the ``tool`` column).
2. ``tail_freshness`` — a fixed number of small batches, each staged on
   a WAP branch, audited, published, then followed by a consumer
   refresh: an ``IncrementalView`` or a ``DerivedTableSync``, by
   workload. The workloads differ in nothing else.
3. ``mor_rw`` (traced run only) — merge-on-read delta appends, a full
   read and point reads with the deltas pending, ``compact_deltas``, and
   point reads on the compacted table.

Correctness checks run outside the timed operations: after the audited
batches, the live state against a recompute from every landed batch
applied so far and the consumer against a recompute from the live state;
after compaction, the merge-on-read reads against the compacted table.
The loop is closed with one client: each operation starts after the
previous one, and its consumers, have finished.

Each timed operation records its wall time and the CPU seconds this
process and its Spark JVM spent on it. The end-to-end metrics cost the
operations in CPU seconds: on a virtual machine whose hypervisor takes a
varying share of the CPUs, wall times of the same work spread too widely
between runs to bound a regression, while CPU time does not count the
stolen time. The wall times stay in the results record and among the
traced run's metrics.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql.types import IntegerType, LongType, StringType, StructField, StructType, TimestampType

from tpc_di_spark.cdc import CdcOrchestrator, current_state
from tpc_di_spark.cdc.generator import historical_batch, incremental_batch
from tpc_di_spark.cdc import mor
from tpc_di_spark.cdc.mor import current_state_mor, lookup_mor
from tpc_di_spark.cdc.orchestrator import bootstrap_table
from tpc_di_spark.lake.derived import DerivedTableSync
from tpc_di_spark.lake.incremental_view import IncrementalView
from tpc_di_spark.lake.wap import WapBranch, not_null, unique_business_key
from tpc_di_spark.schemas import (
    CHANGE_EVENT_SCHEMA,
    CHANGE_EVENT_SCHEMA_EVOLVED,
    LINEAGE_FIELDS,
    TRANSCRIPT_SCHEMA,
)

from perfbench import checks


# Conversation ids drawn as floor(n * u^(1 + skew)): the hot-conversation
# skew of ``run_replay``'s incremental batches.
SKEW = 2.0


# Each workload is named after the consumer refreshed after every audited
# batch: an IncrementalView or a DerivedTableSync.
WORKLOADS = ("view", "derived")

VIEW_AGGS = [
    ("count_live", None, "n_live"),
    ("avg_live", "cast(length(text) as bigint)", "avg_len"),
    ("max_live", "ts", "max_ts"),
]
CHILD_FILTER = "role = 'assistant'"
CHILD_SELECT = {"role": "role", "n_chars": "cast(length(text) as bigint)"}
CHILD_SCHEMA = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("role", StringType(), True),
        StructField("n_chars", LongType(), True),
        StructField("ts", TimestampType(), True),
    ]
    + LINEAGE_FIELDS
)


@dataclass(frozen=True)
class Sizes:
    convs: int  # historical load = convs x turns insert events
    turns: int
    bulk_events: int  # per incremental CoW batch
    bulk_batches: int
    tail_events: int  # per audited small batch
    tail_batches: int
    mor_events: int  # per delta append
    mor_batches: int
    lookups: int  # point reads of each kind
    buckets: int


FULL = Sizes(
    convs=3000, turns=10, bulk_events=30_000, bulk_batches=1,
    tail_events=1000, tail_batches=2,
    mor_events=15_000, mor_batches=2, lookups=3, buckets=8,
)
TINY = Sizes(
    convs=200, turns=5, bulk_events=800, bulk_batches=1,
    tail_events=100, tail_batches=2,
    mor_events=400, mor_batches=2, lookups=2, buckets=4,
)


def batch_ids(sizes: Sizes, seed: int) -> dict:
    """Engine batch ids for a seed. The seed picks the id offset handed
    to the generator, whose hash salts, timestamps and insert-turn ranges
    all derive from the batch id. Ids stay below 2000 so every event
    timestamp stays below year 9999."""
    base = 1 + 20 * (seed % 90)
    ids = iter(range(base, base + 20))
    return {
        "hist": next(ids),
        "bulk": [next(ids) for _ in range(sizes.bulk_batches)],
        "tail": [next(ids) for _ in range(sizes.tail_batches)],
        "mor": [next(ids) for _ in range(sizes.mor_batches)],
    }


def land_inputs(spark, root: str, sizes: Sizes, ids: dict, with_mor: bool) -> dict:
    """Write every batch as parquet in the change-event schema (the
    ``run_replay --events`` shape) and return :func:`input_paths`. All
    batches of one schema land in one write, partitioned by id. The
    merge-on-read batches land only ``with_mor``."""
    parts = spark.sparkContext.defaultParallelism
    plain, evolved = [], []
    plain.append((ids["hist"], historical_batch(spark, sizes.convs, sizes.turns, batch_id=ids["hist"])))
    for i, bid in enumerate(ids["bulk"]):
        last = i == len(ids["bulk"]) - 1
        df = incremental_batch(
            spark, bid, sizes.bulk_events, sizes.convs, sizes.turns,
            skew=SKEW, with_tool=last, partitions=parts,
        )
        (evolved if last else plain).append((bid, df))
    for bid in ids["tail"]:
        plain.append((bid, incremental_batch(
            spark, bid, sizes.tail_events, sizes.convs, sizes.turns, skew=SKEW, partitions=1)))
    for bid in ids["mor"] if with_mor else ():
        evolved.append((bid, incremental_batch(
            spark, bid, sizes.mor_events, sizes.convs, sizes.turns, skew=SKEW,
            with_tool=True, partitions=parts)))
    for name, group in (("events", plain), ("events_evolved", evolved)):
        union = None
        for bid, df in group:
            df = df.withColumn("_batch", F.lit(bid))
            union = df if union is None else union.unionByName(df)
        union.write.partitionBy("_batch").parquet(os.path.join(root, name))
    return input_paths(root, ids)


def read_batch(spark, path: str):
    schema = CHANGE_EVENT_SCHEMA_EVOLVED if "events_evolved" in path else CHANGE_EVENT_SCHEMA
    return spark.read.schema(schema).parquet(path)


def cpu_s(pids) -> float:
    """User + system CPU seconds the processes ``pids`` have used so far.
    Time the hypervisor steals from a waiting CPU is not in it."""
    ticks = 0
    for pid in pids:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        ticks += int(fields[11]) + int(fields[12])  # utime, stime
    return ticks / os.sysconf("SC_CLK_TCK")


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


@dataclass
class Run:
    """State of one pipeline run: inputs, timings and check outcomes."""

    spark: object
    root: str
    sizes: Sizes
    ids: dict
    paths: dict
    seed: int
    tracer: object = None
    pids: tuple = ()  # processes whose CPU time an operation costs
    samples: dict = field(default_factory=dict)
    walls: dict = field(default_factory=dict)  # regime -> seconds, checks included
    checks: dict = field(default_factory=dict)
    applied: list = field(default_factory=list)  # CoW batch ids, in apply order
    attempted: int = 0
    failed: int = 0

    def span(self, name: str, batch=None):
        if self.tracer is None:
            return nullcontext()
        self.tracer.batch = batch
        return self.tracer.span(name)

    def timed(self, key: str, fn, batch=None, span: str | None = None):
        """Run one operation, append its wall seconds to ``samples[key]``
        and its CPU seconds to ``samples[key + "_cpu"]``."""
        self.attempted += 1
        with self.span(span or f"op.{key}", batch):
            c = cpu_s(self.pids)
            t = time.perf_counter()
            out = fn()
            self.samples.setdefault(key, []).append(time.perf_counter() - t)
            self.samples.setdefault(f"{key}_cpu", []).append(cpu_s(self.pids) - c)
        return out

    def check(self, name: str, ok: bool) -> None:
        self.attempted += 1
        self.checks[name] = ok
        if not ok:
            self.failed += 1

    def events(self, bid: int):
        return read_batch(self.spark, self.paths[bid])


def input_paths(land: str, ids: dict) -> dict:
    """Batch id -> directory of the batch's landed files."""
    evolved = {ids["bulk"][-1], *ids["mor"]}
    return {
        bid: os.path.join(land, "events_evolved" if bid in evolved else "events", f"_batch={bid}")
        for bid in (ids["hist"], *ids["bulk"], *ids["tail"], *ids["mor"])
    }


# --------------------------------------------------------------- regimes
def cow_bulk(run: Run, table, orch) -> None:
    ids = run.ids
    with run.span("phase.cow_bulk"):
        run.timed("hist", lambda: orch.apply_batch(run.events(ids["hist"]), ids["hist"]),
                  batch=ids["hist"], span="op.apply")
        before = dir_bytes(table.path)
        for bid in ids["bulk"]:
            run.timed("bulk", lambda: orch.apply_batch(run.events(bid), bid), batch=bid, span="op.apply")
        run.samples["bulk_bytes"] = [dir_bytes(table.path) - before]
    run.applied += [ids["hist"], *ids["bulk"]]


def tail_freshness(run: Run, table, orch, consumer: str) -> None:
    root = run.root
    if consumer == "view":
        view = IncrementalView(table, os.path.join(root, "view"), ["role"], VIEW_AGGS)
        refresh = view.refresh
    else:
        child = bootstrap_table(run.spark, os.path.join(root, "child"), CHILD_SCHEMA,
                                num_buckets=run.sizes.buckets)
        sync = DerivedTableSync(table, child, os.path.join(root, "sync"),
                                filter_expr=CHILD_FILTER, select_exprs=CHILD_SELECT)
        refresh = sync.refresh
    # Untimed warm-up: the consumer catches up on the bulk-loaded table.
    t = time.perf_counter()
    refresh()
    run.walls["tail_warmup"] = time.perf_counter() - t
    audit = [unique_business_key(), not_null(table.key_cols)]

    def stage_audit_publish(bid):
        wap = WapBranch.begin(table, f"batch-{bid}")
        orch.for_table(wap.staged).apply_batch(run.events(bid), bid)
        wap.audit(audit)
        wap.publish()
        table.refresh()

    with run.span("phase.tail_freshness"):
        for bid in run.ids["tail"]:
            with run.span("batch", bid):
                run.timed("tail_publish", lambda: stage_audit_publish(bid), batch=bid)
                run.timed("tail_consumer", refresh, batch=bid)
            run.applied.append(bid)
    live = current_state(table)
    expected = checks.recompute_state([run.events(b) for b in run.applied])
    run.check("state", checks.same_state(live, expected))
    if consumer == "view":
        run.check("tail.view", checks.same_view(view.state(), checks.expected_view(live)))
    else:
        run.check("tail.derived", checks.same_child(current_state(child), checks.expected_child(live)))


def mor_rw(run: Run, table, orch, keys: list[dict]) -> None:
    with run.span("phase.mor_rw"):
        for bid in run.ids["mor"]:
            run.timed("mor_apply", lambda: mor.apply_batch_mor(orch, run.events(bid), bid), batch=bid)
        run.timed("mor_read", lambda: current_state_mor(table).write.format("noop")
                  .mode("overwrite").save(), span="cdc.mor.fold")
        lookup_mor(table, keys[0]).collect()  # untimed: compiles the pruned fold
        pre_lookups = [
            run.timed("mor_lookup", lambda: lookup_mor(table, k).collect(), span="cdc.mor.fold")
            for k in keys
        ]
        pre_state = checks.digest(checks.with_tool(current_state_mor(table)))  # untimed
        run.timed("compact", lambda: mor.compact_deltas(orch))
        post_lookups = [
            run.timed("lookup", lambda: table.lookup(k).collect(), span="lake.table.lookup")
            for k in keys
        ]
    run.check("mor.state", pre_state == checks.digest(checks.with_tool(current_state(table))))
    run.check("mor.lookups", checks.same_lookups(pre_lookups, post_lookups))


def lookup_keys(sizes: Sizes, seed: int) -> list[dict]:
    """Point-read keys: turns of historically loaded conversations spread
    over the id range; later batches update or delete some of them."""
    step = sizes.convs // sizes.lookups
    return [
        {"conv_id": f"conv-{(seed + i * step) % sizes.convs:06d}", "turn_idx": (seed + i) % sizes.turns}
        for i in range(sizes.lookups)
    ]


def _table(run: Run):
    """A fresh lake table and its orchestrator, with ``run_replay``'s
    defaults: buckets_per_group=64, default count_input and
    null_key_policy."""
    table = bootstrap_table(run.spark, os.path.join(run.root, "transcripts"), TRANSCRIPT_SCHEMA,
                            num_buckets=run.sizes.buckets)
    return table, CdcOrchestrator(table, buckets_per_group=64)


def run_pipeline(run: Run, workload: str, with_mor: bool) -> None:
    """The measured regimes in turn. ``mor_rw`` runs only when
    ``with_mor`` (the traced run): its end-to-end figures do not fit the
    untraced run's time budget, so only its per-layer figures are kept."""
    t = time.perf_counter()
    table, orch = _table(run)
    run.walls["bootstrap"] = time.perf_counter() - t
    regimes = [
        ("cow_bulk", lambda: cow_bulk(run, table, orch)),
        ("tail_freshness", lambda: tail_freshness(run, table, orch, workload)),
    ]
    if with_mor:
        keys = lookup_keys(run.sizes, run.seed)
        regimes.append(("mor_rw", lambda: mor_rw(run, table, orch, keys)))
    for name, regime in regimes:
        t = time.perf_counter()
        regime()
        run.walls[name] = time.perf_counter() - t


def bulk_only(run: Run) -> None:
    """The ``cow_bulk`` regime alone (the single-core baseline)."""
    cow_bulk(run, *_table(run))


def end_to_end(run: Run, setup_s: float) -> dict:
    """The end-to-end metrics, by name: (value, unit). Set-up is wall
    time; the operations are costed in the CPU seconds of this process
    and its Spark JVM, which time stolen by the hypervisor does not
    inflate (see :func:`wall_figures` for their wall times)."""
    s, sm = run.sizes, run.samples
    med = statistics.median
    freshness = [a + b for a, b in zip(sm["tail_publish_cpu"], sm["tail_consumer_cpu"])]
    return {
        "setup_s": (setup_s, "s"),
        "hist_events_per_cpu_s": (s.convs * s.turns / sm["hist_cpu"][0], "events/cpu_s"),
        "apply_events_per_cpu_s": (
            s.bulk_events * s.bulk_batches / sum(sm["bulk_cpu"]), "events/cpu_s"),
        "bytes_written_per_event": (sm["bulk_bytes"][0] / (s.bulk_events * s.bulk_batches), "B/event"),
        "batch_p50_cpu_s": (med(sm["tail_publish_cpu"]), "cpu_s"),
        "freshness_p50_cpu_s": (med(freshness), "cpu_s"),
    }


def wall_figures(run: Run) -> dict:
    """Wall-clock counterparts of the end-to-end operation metrics."""
    s, sm = run.sizes, run.samples
    med = statistics.median
    freshness = [a + b for a, b in zip(sm["tail_publish"], sm["tail_consumer"])]
    return {
        "wall.hist_events_per_s": (s.convs * s.turns / sm["hist"][0], "events/s"),
        "wall.apply_events_per_s": (s.bulk_events * s.bulk_batches / sum(sm["bulk"]), "events/s"),
        "wall.batch_p50_s": (med(sm["tail_publish"]), "s"),
        "wall.freshness_p50_s": (med(freshness), "s"),
    }
