"""Spark launch sized to the host, host facts, and a clean shutdown.

Uses ``lucene_spark.session.get_spark`` unchanged: the host fit comes
from the environment variables it already reads and from ``extra_conf``.
"""

from __future__ import annotations

import os
import platform
import sys
import tempfile
import time


def host_cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # non-Linux
        return os.cpu_count() or 1


def host_ram_mb() -> int:
    return int(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**20)


def driver_memory_mb() -> int:
    # well under host RAM: the heap is pre-touched at JVM start
    return max(1024, min(2048, host_ram_mb() // 5))


def start(work: str, root: str):
    """Start ``local[nproc]`` with every scratch file under ``work``.
    Returns (spark, seconds the start took)."""
    cpus = host_cpus()
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = f"{driver_memory_mb()}m"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # executors' Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    tempfile.tempdir = tmp
    from lucene_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.range(1).count()  # the session's first job pays scheduler start-up
    return spark, time.perf_counter() - t0


def host_info(spark) -> dict:
    import numpy
    import pyspark

    return {
        "nproc": host_cpus(),
        "ram_mb": host_ram_mb(),
        "driver_memory_mb": driver_memory_mb(),
        "python": platform.python_version(),
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "numpy": numpy.__version__,
    }


def stop(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit: closing the stdin of the JVM PySpark
    launched is what ends it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if proc is not None:
            gw.shutdown()
            proc.stdin.close()
            proc.wait(timeout=60)
