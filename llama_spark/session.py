"""SparkSession construction for the llama_spark engine.

Local mode sizes itself to the machine: ``local[cores]`` over the CPUs
this process may run on, and 2 × cores shuffle partitions. On a real
cluster the same code runs unchanged via ``spark-submit --py-files`` — the
only local-specific knobs are driver memory and shuffle-partition count.

Reference lifecycle analog: ``ll_database`` open (ll_database.h:51-150) —
one session == one database handle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half the machine's physical memory, capped at 16g: in local mode
    the driver JVM is the whole engine, and a heap as large as the RAM
    lets a long single-process run grow until the OS kills it."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(phys // 2, 16 << 30) >> 20}m"


def get_spark(
    app_name: str = "llama_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for iterative graph analytics.

    ``cores`` defaults to ``SPARK_GRAFT_CPUS``, else the CPUs this process
    may run on (its affinity mask, not the machine's total).
    ``shuffle_partitions`` defaults to 2 × cores: every cached state
    table, ``repartition(p, …)`` and round shuffle then runs about two
    task waves per stage — one wave leaves cores idle behind an R-MAT
    hub's partition, and a fixed floor above the core count only adds
    waves of per-task overhead on a small machine.

    AQE stays ON (skew-join splitting + partition coalescing are exactly
    what web-graph hub skew needs); Arrow is ON for the pandas-UDF kernels.
    """
    cores = cores or int(
        os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    )
    shuffle_partitions = shuffle_partitions or 2 * cores
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
