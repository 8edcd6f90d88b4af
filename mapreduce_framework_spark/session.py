"""SparkSession factory.

The reference engine has no tunables beyond ``nReduce=10``
(``src/main/mrcoordinator.go:23``) and a static FNV hash partitioner
(``src/mr/worker.go:16-20``). Here the equivalent knobs are Spark's shuffle
partitioning + AQE, set once so every operator in the package inherits a
plan-friendly configuration:

- AQE on (runtime coalescing, skew-join splitting) — strictly better than
  the reference's static R=10 bucketing.
- Arrow on — every Python-side operator in this package uses pandas UDFs /
  ``applyInPandas`` / ``mapInPandas``, never row-at-a-time Python UDFs.
- ``spark.sql.shuffle.partitions`` defaults to the local core count so
  local runs don't over-shard 60 k-row inputs; on a real cluster this is
  expected to be overridden (or left to AQE coalescing).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4)))


def get_spark(
    app_name: str = "mapreduce-framework-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session with scale-ready defaults.

    All settings here are safe on a 1000-executor cluster: AQE re-plans
    shuffle parallelism at runtime, so the static ``shuffle_partitions``
    only matters as an upper bound for the local test runs.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # round 13 (guide §3.1/§9): let the planner pick a shuffled-hash
        # join when its size conditions are met instead of always
        # sort-merging (no sort pass on either side), and let AQE rewrite
        # a planned sort-merge to shuffled-hash at runtime when every
        # post-shuffle partition is small (the threshold is per-partition,
        # so it is scale-safe: a 100 TB join whose partitions exceed it
        # stays sort-merge and spills gracefully). Scan split and AQE
        # target partition sizes stay at Spark's defaults; a deployment
        # re-tunes any of these through ``extra_conf``.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
