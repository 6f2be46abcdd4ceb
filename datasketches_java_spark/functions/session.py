"""SparkSession factory with the engine's scale-aware defaults.

Local mode is for tests, the benchmarks and sandbox runs; the same
config block is what we'd ship in spark-submit --py-files on a real
cluster (AQE, skew join, Arrow).
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession

from datasketches_java_spark.functions import worker_daemon


def default_cores() -> int:
    """``$SPARK_GRAFT_CPUS``, else the CPUs this process may run on
    (the scheduler affinity mask, what ``nproc`` reports)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS")
               or len(os.sched_getaffinity(0)))


def get_spark(app_name: str = "datasketches_java_spark",
              cores: int | None = None,
              shuffle_partitions: int | None = None,
              driver_memory: str | None = None,
              master: str | None = None,
              executor_memory: str | None = None) -> SparkSession:
    """`master` overrides the default local[cores], e.g. with
    local-cluster[N, cores, mem] (separate executor JVMs + real shuffle
    transport), for which SPARK_HOME is pointed at the pyspark
    distribution.  ``cores`` defaults to ``default_cores()``,
    ``driver_memory`` to a quarter of physical RAM clamped to 1-8 GiB
    (local mode runs every task in the driver's heap, and the machine
    may be shared).

    On every master the package root, then any inherited PYTHONPATH, is
    put on the Python workers' PYTHONPATH (what --py-files provides on
    a real cluster): workers do not inherit the driver's ``sys.path``.
    When pyspark is importable from a directory (site-packages), the
    workers' daemon is ``functions.worker_daemon``, which drops Spark's
    pyspark/py4j archives from their path; with pyspark only in an
    archive the stock daemon runs."""
    cores = cores or default_cores()
    if driver_memory is None:
        mem_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
        driver_memory = f"{min(max(mem_mb // 4, 1024), 8192)}m"
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    if master is None:
        master = f"local[{cores}]"
    elif master.startswith("local-cluster"):
        os.environ.setdefault(
            "SPARK_HOME",
            os.path.dirname(os.path.abspath(__import__("pyspark").__file__)))
    package_root = os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    worker_pythonpath = os.pathsep.join(
        p for p in (package_root, os.environ.get("PYTHONPATH")) if p)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.executorEnv.PYTHONPATH", worker_pythonpath)
    )
    if executor_memory is not None:
        builder = builder.config("spark.executor.memory", executor_memory)
    if worker_daemon.importable_from_directory(sys.path):
        builder = builder.config("spark.python.daemon.module",
                                 worker_daemon.__name__)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

