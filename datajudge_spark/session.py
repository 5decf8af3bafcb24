"""SparkSession factory with scale-appropriate defaults.

Centralizes the configuration used by tests, the bench harness and the driver
entry point. The settings are chosen for correctness-at-scale first:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting and
  dynamic join-strategy switching — the knobs that keep the plans here viable
  at 1000 executors without hand-tuning per query.
- UTC session timezone: deterministic date arithmetic regardless of host TZ
  (also what the DuckDB oracle uses).
- Arrow enabled for any pandas interchange (pipeline operators).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Holds ``djs_worker_daemon``, the Python worker daemon ``get_spark``
#: selects.  A plain directory, not a package: the daemon starts before
#: anything of this library is imported.
WORKER_DAEMON_DIR = os.path.join(os.path.dirname(__file__), "_spark_worker")


def get_spark(
    app_name: str = "datajudge-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    # memoize py4j name resolution (2 of the 3 driver round-trips every
    # F.<builtin>() call pays are immutable class/member lookups) —
    # see datajudge_spark/_py4j_cache.py for the measured breakdown
    from ._py4j_cache import install_py4j_name_cache

    install_py4j_name_cache()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 4)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE's parallelism-first coalescing only splits a post-shuffle
        # stage down to partitions of at least this size (default 1m).
        # This engine's shuffled frames are narrow hash/decimal rows —
        # byte-tiny but CPU-heavy — so the 1 MB floor routinely folds a
        # multi-second aggregation onto 1-3 tasks (measured: kruskal
        # 1.26 -> 0.81 s, wasserstein 1.30 -> 0.75 at 64k).  Parallelism
        # stays capped at defaultParallelism, and at cluster scale byte
        # counts dominate the floor, so this only affects the small-
        # frame regime it targets.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        # Keep AQE out of cached-plan output partitioning (the Spark
        # default).  Tried true (AQE coalesces the near-empty 32-way
        # partitioning of persisted frames): it helped single-pass
        # consumers slightly but SERIALIZED the rank/EDF scaffolds,
        # which re-read a 150k-600k-row cached histogram 3-4 times per
        # query — a coalesced 1-partition cache runs each pass on one
        # core (wasserstein 0.9 s -> 2.7 s, kruskal 1.2 -> 2.6
        # measured).
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "false"
        )
        # Write small-R shuffles through the sort path (one output file
        # per map task) instead of the bypass-merge path (R files per
        # map task, then a merge): profiled as the top executor frame
        # (DiskBlockObjectWriter.initialize) across the digest suite.
        # Production-consistent: bypass never applies past R = 200, so
        # forcing the sort/serialized writer makes small-R behavior
        # match large-cluster behavior.
        .config("spark.shuffle.sort.bypassMergeThreshold", "0")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # PySpark 4's DataFrame-debugging wrapper captures the Python
        # call site on EVERY DataFrame/Column API call: ~5 extra py4j
        # round-trips each (getActiveSession + conf.get + origin
        # set/clear), measured at ~0.3 ms/round-trip.  Across this
        # suite's ~300k API calls that is tens of seconds of pure
        # driver-side overhead for an error-message nicety — off.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Python workers import pyspark from plain directories, not from
        # the zips Spark puts first on their path: each task otherwise
        # re-reads the zips' directories, ~0.35 s per task of a Python
        # UDF, pandas UDF or Python-row frame (see the daemon module)
        .config("spark.python.daemon.module", "djs_worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", WORKER_DAEMON_DIR)
        # tolerate parquet TIMESTAMP(NANOS) columns (read as long nanos)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Off: the UI server costs startup time and memory.
        .config("spark.ui.enabled", "false")
        # The generated-class cache defaults to 100 entries; a suite of 60+
        # distinct query shapes evicts every entry per pass, so each pass
        # re-pays janino compilation (measured 5.5 s on the KS query alone).
        # Size it to hold the whole suite's codegen output.
        .config("spark.sql.codegen.cache.maxEntries", "4000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Pin the initial heap to the max: G1 otherwise starts at ~150 MB
        # committed and expands lazily, and the expansion is preceded by a
        # multi-second GC thrash once the working set crosses the committed
        # boundary (measured 11-36 s stalls mid-suite).  Xms=Xmx removes
        # heap-resize pauses entirely — standard practice for benchmarked
        # JVMs; on a real cluster the same applies to executor JVMs.
        .config(
            "spark.driver.extraJavaOptions",
            "-Xms" + os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        )
    )
    return builder.getOrCreate()
