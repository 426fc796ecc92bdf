"""Self-test of the benchmark at a tiny size.

    python3 perfbench/selftest.py

Runs every workload once on tiny inputs (the first one traced) and
fails unless:

- every operation and check passed, and every end-to-end and per-layer
  metric of ``BENCHMARK.json`` was produced with its declared unit;
- the independent live-state recompute equals the row-at-a-time pandas
  oracle of ``cdc/oracle.py`` on the same landed events;
- each correctness checker rejects a deliberately corrupted result (one
  dropped row, one altered ``text``, one altered aggregate, one altered
  point-read row).

Writes only under ``.perfbench_work/`` in the current directory.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

import pyspark.sql.functions as F  # noqa: E402
from pyspark.sql import Row  # noqa: E402

from perfbench import checks, layers, pipeline, run as bench  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402


def require(ok: bool, what: str) -> None:
    if not ok:
        raise SystemExit(f"selftest FAILED: {what}")
    print(f"ok  {what}")


def declared(section: str) -> dict:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[section]}


def oracle_state(spark, run):
    """The cow_bulk regime's final state by the pandas oracle."""
    from tpc_di_spark.cdc.oracle import OracleState

    state = OracleState(payload_cols=["role", "text", "ts"])
    for bid in (run.ids["hist"], *run.ids["bulk"]):
        state.apply_batch(run.events(bid).toPandas(), bid)
    df = state.current_df()
    return sorted(
        (r.conv_id, int(r.turn_idx), r.role, r.text, r.tool, r.ts.to_pydatetime())
        for r in df.itertuples()
    )


def corruption_checks(spark, table, run) -> None:
    from tpc_di_spark.cdc import current_state

    live = checks.with_tool(current_state(table))
    # An assistant row, so that the derived child holds it too.
    first = live.filter(F.col("role") == "assistant").orderBy(*checks.KEY).first()
    is_first = (F.col("conv_id") == first["conv_id"]) & (F.col("turn_idx") == first["turn_idx"])
    dropped = live.filter(~is_first)
    altered = live.withColumn("text", F.when(is_first, F.lit("corrupted")).otherwise(F.col("text")))
    require(checks.same_state(live, live), "state checker accepts the live state")
    require(not checks.same_state(dropped, live), "state checker rejects a dropped row")
    require(not checks.same_state(altered, live), "state checker rejects an altered text")

    view = checks.expected_view(live)
    bumped = view.withColumn("n_live", F.when(F.col("role") == "user", F.col("n_live") + 1)
                             .otherwise(F.col("n_live")))
    require(checks.same_view(view, view), "view checker accepts the recomputed view")
    require(not checks.same_view(bumped, view), "view checker rejects an altered count")

    child = checks.expected_child(live)
    require(checks.same_child(child, child), "child checker accepts the recomputed child")
    require(not checks.same_child(checks.expected_child(dropped), child),
            "child checker rejects a dropped row")
    require(not checks.same_child(checks.expected_child(altered), child),
            "child checker rejects an altered text")

    rows = live.filter(is_first).collect()
    bad = [Row(**(r.asDict() | {"text": "corrupted"})) for r in rows]
    require(checks.same_lookups([rows], [rows]), "lookup checker accepts equal reads")
    require(not checks.same_lookups([rows], [bad]),
            "lookup checker rejects an altered text")
    require(not checks.same_lookups([rows], [[]]), "lookup checker rejects a dropped row")


def main() -> int:
    from tpc_di_spark.lake.table import LakeTable

    e2e, per_layer = declared("end_to_end"), declared("per_layer")
    base = Path.cwd() / ".perfbench_work" / f"selftest-{os.getpid()}"
    bench._configure_env(base)
    cores = len(os.sched_getaffinity(0))
    spark = bench._start_spark(base, cores)
    try:
        for i, name in enumerate(sorted(pipeline.WORKLOADS)):
            root = base / name
            sizes = pipeline.TINY
            ids = pipeline.batch_ids(sizes, seed=0)
            paths = pipeline.land_inputs(spark, str(root / "inputs"), sizes, ids, with_mor=i == 0)
            run = pipeline.Run(spark, str(root), sizes, ids, paths, seed=0)
            run.pids = (os.getpid(), bench._jvm_pid())
            tracer = None
            if i == 0:
                tracer = Tracer(spark)
                layers.install(tracer)
                run.tracer = tracer
            try:
                pipeline.run_pipeline(run, name, with_mor=i == 0)
            finally:
                if tracer is not None:
                    tracer.unwrap()
            require(run.failed == 0 and all(run.checks.values()),
                    f"{name}: every operation and check passed {run.checks}")
            got = {k: u for k, (_, u) in pipeline.end_to_end(run, 1.0).items()}
            require(got == e2e, f"{name}: end-to-end metrics and units match BENCHMARK.json")
            if tracer is not None:
                got = {k: u for k, (_, u) in bench.traced_metrics(tracer, run, cores, None, 0.0).items()}
                require(got == per_layer, f"{name}: per-layer metrics and units match BENCHMARK.json")
            if i == 0:
                want = oracle_state(spark, run)
                expected = checks.recompute_state([run.events(b) for b in (ids["hist"], *ids["bulk"])])
                mine = sorted(tuple(r) for r in expected.select(*checks.STATE_COLS).collect())
                require(mine == want, "live-state recompute equals the pandas oracle")
                corruption_checks(spark, LakeTable.load(spark, str(root / "transcripts")), run)
    finally:
        bench._stop_spark(spark)
        shutil.rmtree(base, ignore_errors=True)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
