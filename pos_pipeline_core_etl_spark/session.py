"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[N]`` but every knob here is chosen so the
same code runs unchanged on a 1000-executor cluster: AQE for runtime
re-planning (skew joins, partition coalescing), Arrow for the Python
boundary, UTC session timezone so results are oracle-comparable, and a
shuffle-partition count that callers can override per deployment.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(
    app_name: str = "pos_pipeline_core_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    On a real cluster, pass ``master=None`` and let spark-submit supply
    the master URL; locally defaults to ``local[$SPARK_GRAFT_CPUS]``.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        master = f"local[{DEFAULT_CPUS}]"
    builder = builder.master(master)

    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Scale-adaptive shuffle sizing: start reduce stages WIDE and let
        # AQE coalesce down to the advisory size. Small inputs coalesce to
        # a handful of partitions (same plans as before); large inputs
        # keep enough partitions that one agg partition never outgrows a
        # core's hash table. Measured at the 100x bench notch: the
        # 60M-row ticket mart drops 18.0 s (32 fixed partitions) ->
        # 11.8 s with zero per-query tuning; sf0.1 unchanged within
        # noise. On a 1000-executor cluster raise initialPartitionNum
        # with cluster width, nothing else changes.
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "256",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16m",
        # Whole-stage codegen keeps compiled classes in one JVM-wide LRU of
        # 100 entries by default, far below this engine's working set: one
        # warm corpus_dedup benchmark pass generates 411-435 classes and one
        # pos_refresh pass 99-135, so at 100 every pass evicted the previous
        # pass's classes and recompiled them all. Both workloads in one
        # session make ~520 distinct classes and the bench.py warm-up
        # ~1,050; 2000 holds the largest of these with room to spare.
        "spark.sql.codegen.cache.maxEntries": "2000",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.filterPushdown": "true",
        # the synthetic events table stores TIMESTAMP(NANOS); read as long
        # and convert in the catalog (sources.tables) — Spark has no nanos type
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # local mode: one JVM; keep UI off for headless runs
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_compile_count(spark: SparkSession) -> int:
    """Generated classes Janino has compiled so far in this JVM.

    Read it around a call: the delta is the call's compile count. A warm
    re-run of a plan whose classes are still in the codegen cache
    compiles none.
    """
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
