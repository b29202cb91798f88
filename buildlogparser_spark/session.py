"""SparkSession factory tuned for the sandbox (local[N]) but scale-minded.

All settings here are also safe on a real multi-executor cluster: AQE for
runtime re-planning (skew-join splitting, partition coalescing), Arrow for
any pandas-UDF exchange, and shuffle partitions sized to the parallelism at
hand rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cores() -> int:
    """``$SPARK_GRAFT_CPUS``, else the CPUs this process may run on (its
    affinity mask — what ``nproc`` prints)."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``$SPARK_DRIVER_MEMORY``, else half of ``MemAvailable`` (at least
    1 GB): the JVM shares the host with its Python workers and, in the
    tests and ``scripts/driver_sim.py``, a co-resident DuckDB."""
    env = os.environ.get("SPARK_DRIVER_MEMORY")
    if env:
        return env
    with open(meminfo) as f:
        avail_kb = next(int(line.split()[1]) for line in f
                        if line.startswith("MemAvailable:"))
    return f"{max(1024, avail_kb // 1024 // 2)}m"


def get_spark(app_name: str = "buildlogparser_spark", cores: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    if cores is None:
        cores = default_cores()
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder
        .master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
