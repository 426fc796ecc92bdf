"""Span tracer for the benchmark's traced run.

The engine is not instrumented; the tracer wraps the public functions of
each engine module from the outside (``Tracer.wrap``) and records one
span per call on the driver thread: name, start, end, parent span and
batch id. Spans are kept in memory and summarised once at the end.

Spark work is attributed per span by setting a job group for the span's
lifetime; jobs launched from engine thread pools carry no group and are
given to the innermost span open when they are first seen. Stage
figures (tasks, failed tasks, executor run time, shuffle write bytes)
come from the JVM status store, codegen figures from Spark's
``CodegenMetrics`` histogram and ``CodeGenerator.compileTime``.
"""

from __future__ import annotations

import functools
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    parent: "Span | None"
    batch: object
    group: str
    end: float = 0.0
    child_s: float = 0.0
    jobs: list = field(default_factory=list)
    figures: dict = field(default_factory=dict)
    compiles: int = 0
    compile_s: float = 0.0

    @property
    def busy_s(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.busy_s - self.child_s


class Tracer:
    """Records spans around engine calls. Only the traced run constructs
    one, so untraced runs pay nothing for it."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = spark._jvm
        self._codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._codegen_hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._store = self.sc._jsc.sc().statusStore()
        self._main = threading.get_ident()
        self._stack: list[Span] = []
        self._lock = threading.Lock()
        self._next = 0
        self.spans: list[Span] = []
        self.batch = None
        # Per-call counters for functions called from engine thread pools
        # (file-system calls); name -> [calls, busy seconds].
        self.counters: dict[str, list] = defaultdict(lambda: [0, 0.0])
        self.overhead_s = 0.0
        self._patches: list[tuple[object, str, object]] = []
        self._seen_jobs = set(self.sc.statusTracker().getJobIdsForGroup(None))
        self._seen_stages: set[int] = set()

    # ---------------------------------------------------------------- spans
    def _codegen_now(self) -> tuple[int, float]:
        return self._codegen_hist.getCount(), self._codegen.compileTime() / 1e9

    @contextmanager
    def span(self, name: str):
        if threading.get_ident() != self._main:
            yield None
            return
        t = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        self._next += 1
        group = f"perfbench-{self._next}"
        self.sc.setJobGroup(group, name)
        n0, c0 = self._codegen_now()
        sp = Span(name, time.perf_counter(), parent, self.batch, group)
        self._stack.append(sp)
        self.overhead_s += time.perf_counter() - t
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            n1, c1 = self._codegen_now()
            sp.compiles, sp.compile_s = n1 - n0, c1 - c0
            self._stack.pop()
            tracker = self.sc.statusTracker()
            own = set(tracker.getJobIdsForGroup(group))
            pooled = set(tracker.getJobIdsForGroup(None)) - self._seen_jobs
            self._seen_jobs |= pooled
            sp.jobs = sorted(own | pooled)
            sp.figures = self._stage_figures(sp.jobs)
            if parent is not None:
                parent.child_s += sp.busy_s
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(sp)
            self.overhead_s += time.perf_counter() - sp.end

    # ------------------------------------------------------------- wrapping
    def _patch(self, owner, attr: str, wrapper) -> None:
        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, wrapper)

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Record a span ``name`` around every call of ``owner.attr``.

        ``owner`` is a class (the method is replaced on it) or a module;
        for a module function, every loaded engine module that imported
        the same function object is patched too, so callers that did
        ``from module import fn`` are traced as well."""
        target = owner.__dict__[attr]

        @functools.wraps(target)
        def traced(*args, **kwargs):
            with self.span(name) as sp:
                out = target(*args, **kwargs)
                if on_result is not None and sp is not None:
                    on_result(self, args, out)
                return out

        self._patch(owner, attr, traced)
        if isinstance(owner, type):
            return
        for mod in list(sys.modules.values()):
            if (
                mod is not owner
                and getattr(mod, "__name__", "").startswith("tpc_di_spark.")
                and mod.__dict__.get(attr) is target
            ):
                self._patch(mod, attr, traced)

    def count_calls(self, owner, attr: str, name: str) -> None:
        """Count calls and busy time of ``owner.attr`` from any thread
        (no span, no Spark bookkeeping: these are file-system calls made
        from engine thread pools)."""
        target = owner.__dict__[attr]
        counter = self.counters[name]
        lock = self._lock

        @functools.wraps(target)
        def counted(*args, **kwargs):
            t = time.perf_counter()
            try:
                return target(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t
                with lock:
                    counter[0] += 1
                    counter[1] += dt

        self._patch(owner, attr, counted)

    def add(self, name: str, value: float) -> None:
        with self._lock:
            self.counters[name][0] += value

    def unwrap(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # ---------------------------------------------------------- Spark figures
    def _stage_figures(self, job_ids) -> dict:
        """Stages, tasks, failed tasks, executor run seconds and shuffle
        write bytes of the given jobs, from the status tracker and the
        JVM status store. Read when the span ends, before the store's
        retention limit can evict them; a stage reused by a later job
        counts once, for the span that ran it."""
        tracker = self.sc.statusTracker()
        out = dict(stages=0, tasks=0, failed_tasks=0, executor_run_s=0.0, shuffle_write_bytes=0)
        stage_ids = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        for s in sorted(stage_ids - self._seen_stages):
            self._seen_stages.add(s)
            try:
                st = self._store.lastStageAttempt(s)
            except Exception:  # noqa: BLE001 - stage skipped or evicted
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            out["failed_tasks"] += st.numFailedTasks()
            out["executor_run_s"] += st.executorRunTime() / 1000.0
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        return out
