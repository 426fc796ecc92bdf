"""SparkSession factory with scale-oriented defaults.

The reference (Reitnos/TPC-DI) delegates all physical execution to
Redshift (`Historical/statustype.py:48-51` DISTSTYLE AUTO); here the
equivalent knobs are Catalyst/AQE configs, set once for the whole engine:

- AQE on (runtime coalescing + skew-join splitting — the engine's answer
  to hot conversations alongside explicit key salting),
- Arrow on (every pandas UDF rides vectorized batches),
- session timezone pinned to UTC so results hash-match the DuckDB oracle,
- shuffle partitions sized to the actual core count instead of the
  200-partition default (wrong in both directions for local runs; on a
  real cluster callers pass ``shuffle_partitions ~= 2-3x total cores``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _cpus() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    return os.cpu_count() or 8


def get_spark(
    app_name: str = "tpc-di-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the CDC engine.

    ``cores`` pins ``local[cores]`` — used by the scaling bench to run the
    identical job at N and 4N parallelism. When unset, uses
    ``$SPARK_GRAFT_CPUS`` or all cores.
    """
    n = cores or _cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{n}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(n, 4)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # PySpark's per-API-call site capture (error-message enrichment)
        # walks the Python stack AND makes a py4j round trip on EVERY
        # DataFrame/Column call — the engine's plan builders issue tens of
        # thousands per replay, a pure driver-side fixed cost that does
        # not shrink with executor count. Error messages lose only the
        # user-code line pointer; stack traces are unaffected.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # zstd over snappy: ~2x fewer bytes per table rewrite for moderate
        # CPU. Compression CPU scales with cores; disk/NIC bandwidth is a
        # shared resource — shifting bytes to CPU is what makes the CoW
        # merge scale (measured on this box: N=2 ~ -3%, 4N=8 ~ +18%,
        # N->4N efficiency 0.64 -> 0.79 in the same window). The trade
        # inverts where CPU is the bottleneck (this box at 32 threads is
        # memory-bus bound: snappy ~1.8x faster there) — override via
        # $SPARK_GRAFT_PARQUET_CODEC for CPU-rich/storage-rich clusters.
        .config(
            "spark.sql.parquet.compression.codec",
            os.environ.get("SPARK_GRAFT_PARQUET_CODEC", "zstd"),
        )
        # zstd level is a bytes-vs-CPU dial on the same trade as the codec
        # choice above: higher levels shed shared-disk/bus bytes for
        # per-core CPU, which is the direction that scales with executor
        # count. Level 3 (library default) measured best on this box;
        # exposed for storage-bound deployments.
        .config(
            "spark.hadoop.parquet.compression.codec.zstd.level",
            os.environ.get("SPARK_GRAFT_ZSTD_LEVEL", "3"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # FileOutputCommitter v2: task-side (parallel) output promotion
        # instead of v1's serial driver-side rename of every file at job
        # commit. The current/history family split doubles files per
        # write, and v1's O(files) driver loop was a fixed cost that
        # throttled exactly the high-core side (measured: 8-core TI batch
        # 12.8s -> 10.0s). Safe here: every write lands in a fresh
        # commit-tag directory that only becomes visible via the atomic
        # snapshot commit, so v2's weaker mid-job visibility guarantees
        # are irrelevant — the table's atomicity comes from the VERSION
        # flip, not the committer.
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_spark() -> None:
    """Stop the active session (used between scaling-bench runs)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


def spark_map(spark: SparkSession, fn, items) -> list:
    """``[fn(x) for x in items]`` with the calls overlapped on a thread
    pool of at most 4, results in input order. On the first failure the
    queued calls are cancelled (never started) and it re-raises after the
    in-flight calls finish, so no Spark job outlives the call.

    Pool threads start with no Spark local properties, so a pooled job
    would lose the caller's job group and description, and the
    ``sql.streaming.queryId`` the orchestrator reads to detect a
    micro-batch. Every call is wrapped by ``inheritable_thread_target``
    separately: each gets its OWN copy of the caller's properties, so
    concurrent SQL executions never share (and clobber) one."""
    items = list(items)
    if len(items) <= 1:
        return [fn(x) for x in items]
    import threading
    from concurrent.futures import CancelledError, ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    failed = threading.Event()

    def call(x):
        # Checked by the worker itself: the thread that ran the failing
        # call takes the next queued item before the caller can cancel it.
        if failed.is_set():
            raise CancelledError
        try:
            return fn(x)
        except BaseException:
            failed.set()
            raise

    with ThreadPoolExecutor(max_workers=min(len(items), 4)) as ex:
        futs = [ex.submit(inheritable_thread_target(spark)(call), x) for x in items]
        try:
            # Skipped calls were queued behind every started one, so the
            # first failure in input order is a real one.
            return [f.result() for f in futs]
        except BaseException:
            ex.shutdown(cancel_futures=True)
            raise
