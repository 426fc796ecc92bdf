"""CDC engine benchmark: one command, seeded inputs, checked outputs.

    python3 perfbench/run.py --workload view --seed 1 --seconds 30 --trace 0

Spark runs as ``local[nproc]`` in this one driver process. The run lands
seeded change-event files, then drives a lake table through the regimes
of ``perfbench/pipeline.py`` (bulk copy-on-write apply, then audited
small batches each followed by a consumer refresh) using only the
engine's public API, checks every output, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics: set-up wall time, and the
CPU cost of the timed operations (see ``perfbench/pipeline.py``).
``--trace 1`` wraps the engine's modules in spans
(``perfbench/trace.py``), adds the merge-on-read regime, reports the
per-layer metrics instead, writes the spans to the results directory and
repeats the bulk regime once at ``local[1]`` pinned to one CPU for the
1-to-n scaling efficiency. Every run applies the same fixed amount of
work, so that two runs of different code measure the same thing;
``--seconds`` is recorded, not used.

Everything the run writes stays under ``.perfbench_work/`` in the
current directory; ``results/`` there keeps one JSON file per run with
its environment stamp. Figures are for ``local[nproc]`` on the machine
that ran them and are not comparable with the ``local[32]`` figures of
``bench.py`` or ``BENCH_r0*.json``; ``perfbench/compare.py`` refuses to
compare runs whose core counts differ.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import asdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

import tpc_di_spark  # noqa: E402,F401  (fails fast outside a checkout)

# A run must end within 180 s; the traced run's single-core baseline gets
# what is left of this budget (and is skipped, reading 0, when that is
# too little), leaving time to stop Spark and report.
RUN_LIMIT_S = 150


def _configure_env(work: Path) -> None:
    """Keep Spark's scratch space, the JVM's and Python's temp files
    inside the work directory."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    opts = os.environ.get("SPARK_SUBMIT_OPTS", "")
    os.environ["SPARK_SUBMIT_OPTS"] = f"{opts} -Djava.io.tmpdir={tmp}".strip()


def _start_spark(work: Path, cores: int):
    from tpc_di_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        cores=cores,
        extra_conf={
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _jvm_pid() -> int:
    """The Spark driver JVM this process launched."""
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def _git_commit() -> str | None:
    if not (ROOT / ".git").exists():
        return None
    out = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                         capture_output=True, text=True)
    return out.stdout.strip() or None


def _steal_s() -> float | None:
    """CPU time the hypervisor took from this machine so far, in seconds."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def _mem_available_mb() -> int | None:
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    return int(line.split()[1]) // 1024
    except OSError:
        pass
    return None


def _stamp(args, spark, cores, sizes, run, steal0) -> dict:
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "master": spark.sparkContext.master,
        "cores": cores,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "mem_available_mb": _mem_available_mb(),
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "sizes": asdict(sizes),
        "batch_ids": run.ids,
        "samples_n": {k: len(v) for k, v in run.samples.items()},
        "cpu_steal_s": (_steal_s() - steal0) if steal0 is not None else None,
        "git_commit": _git_commit(),
    }


def _baseline_rate(args, land: Path, timeout: float) -> float | None:
    """Bulk copy-on-write rate at local[1], pinned to one CPU, in a child
    process that reads the inputs this run landed; None when it cannot
    finish within ``timeout`` seconds."""
    if timeout < 30:
        return None
    cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0",
           "--bulk-only-inputs", str(land)]
    if shutil.which("taskset"):
        cpu = min(os.sched_getaffinity(0))
        cmd = ["taskset", "-c", str(cpu)] + cmd
    # Own process group, so that a timeout also stops the child's JVM.
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        stdout, stderr = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return None
    lines = stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(stderr[-4000:])
        return None
    return json.loads(lines[-1])["apply_events_per_s"]


def traced_metrics(tracer, run, cores: int, baseline_rate: float | None, steal_s: float) -> dict:
    """The per-layer metrics of a traced run, with the wall-clock figures
    of the operations the end-to-end metrics cost in CPU seconds."""
    from perfbench import layers, pipeline

    walls = pipeline.wall_figures(run)
    # The regimes the untraced run measures too, for the overhead.
    shared = run.walls["cow_bulk"] + run.walls["tail_freshness"]
    rate = walls["wall.apply_events_per_s"][0]
    return {
        **layers.per_layer(tracer, shared, cores, baseline_rate, rate),
        **walls,
        "host.cpu_steal_s": (steal_s, "s"),
    }


def main(argv=None) -> int:
    from perfbench import pipeline

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=pipeline.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--bulk-only-inputs", default=None, help=argparse.SUPPRESS)
    args = p.parse_args(argv)
    started = time.perf_counter()

    sizes = pipeline.FULL
    bulk_only = args.bulk_only_inputs is not None
    cores = 1 if bulk_only else len(os.sched_getaffinity(0))
    base = Path.cwd() / ".perfbench_work"
    work = base / f"{args.workload}-s{args.seed}-t{args.trace}-c{cores}-{os.getpid()}"
    _configure_env(work)

    steal0 = _steal_s()
    t = time.perf_counter()
    spark = _start_spark(work, cores)
    session_s = time.perf_counter() - t
    try:
        ids = pipeline.batch_ids(sizes, args.seed)
        land = work / "inputs"
        t = time.perf_counter()
        if bulk_only:
            paths = pipeline.input_paths(args.bulk_only_inputs, ids)
        else:
            paths = pipeline.land_inputs(spark, str(land), sizes, ids, with_mor=bool(args.trace))
        land_s = time.perf_counter() - t
        run = pipeline.Run(spark, str(work), sizes, ids, paths, args.seed)
        run.pids = (os.getpid(), _jvm_pid())
        if bulk_only:
            pipeline.bulk_only(run)
            rate = sizes.bulk_events * sizes.bulk_batches / sum(run.samples["bulk"])
            print(json.dumps({"apply_events_per_s": rate}))
            return 0

        tracer = None
        if args.trace:
            from perfbench import layers
            from perfbench.trace import Tracer

            tracer = Tracer(spark)
            layers.install(tracer)
            run.tracer = tracer
        t = time.perf_counter()
        try:
            pipeline.run_pipeline(run, args.workload, with_mor=bool(args.trace))
        except Exception:  # noqa: BLE001 - report the failed run, then exit 0
            traceback.print_exc()
            run.attempted += 1
            run.failed += 1
        wall = time.perf_counter() - t

        metrics = {}
        try:
            if args.trace:
                tracer.unwrap()
                steal = (_steal_s() - steal0) if steal0 is not None else 0.0
                metrics = traced_metrics(
                    tracer, run, cores,
                    _baseline_rate(args, land, RUN_LIMIT_S - (time.perf_counter() - started)), steal)
            else:
                metrics = pipeline.end_to_end(run, session_s + land_s + run.walls["bootstrap"])
        except (KeyError, ZeroDivisionError, statistics.StatisticsError):
            traceback.print_exc()  # a failed run lacks samples
        stamp = _stamp(args, spark, cores, sizes, run, steal0)
        record = {
            "stamp": stamp,
            "setup": {"session_s": session_s, "landing_s": land_s},
            "walls": {**run.walls, "measured": wall},
            "checks": run.checks,
            "samples": run.samples,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        if args.trace:
            record["spans"] = layers.span_records(tracer)
        results = base / "results"
        results.mkdir(parents=True, exist_ok=True)
        name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
        (results / name).write_text(json.dumps(record, indent=1, default=str))
    finally:
        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    correct = run.failed == 0 and bool(metrics)
    print("perfbench-stamp " + json.dumps(stamp))
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": record["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
