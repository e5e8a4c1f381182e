"""SparkSession factory with engine-appropriate defaults.

Defaults target the sandbox (single JVM, local[N]) but every knob is
chosen for cluster scale: AQE on (runtime skew-join + partition
coalescing), Arrow on (all Python crossings are vectorized batches),
shuffle partitions sized so a 100 TB corpus splits into executor-RAM
sized units when overridden by ``spark.sql.shuffle.partitions`` at
submit time.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """SPARK_DRIVER_MEMORY, else min(16g, RAM / 4): the heap is pre-touched."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return os.environ.get("SPARK_DRIVER_MEMORY") or f"{min(16 << 10, ram_mb // 4)}m"


def get_spark(
    app_name: str = "lucene_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[%s]" % os.environ.get("SPARK_GRAFT_CPUS", "32"))
    mem = default_driver_memory()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.driver.memory", mem)
        # fixed pre-touched heap: at high task concurrency a growing heap
        # turns into a kernel page-allocation storm (30+ cores of pure
        # sys time observed at local[32]); pre-touching pays the cost
        # once at startup. ParallelGC beats G1 for this batch-shuffle
        # profile. On a cluster these become executor JVM options.
        .config(
            "spark.driver.extraJavaOptions",
            "-Xms" + mem + " -XX:+AlwaysPreTouch -XX:+UseParallelGC",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # ORDER BY + LIMIT k plans TakeOrderedAndProject, whose
        # per-partition heap is O(k) — a "give me every match" call
        # (k ~ 10^9) OOMs the executor before a single row flows.
        # Above this threshold Spark falls back to a global
        # (spillable) sort + streamed limit, which is the right plan
        # for huge k at any scale; below it the top-k heap wins.
        .config("spark.sql.execution.topKSortFallbackThreshold", "100000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
