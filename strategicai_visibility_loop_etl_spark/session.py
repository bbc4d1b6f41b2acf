"""SparkSession factory tuned for this engine — the one every entry
point (CLI, bench, tests, oracle harness, tools) builds its session
through.

Local-mode defaults mirror what we'd set fleet-wide on a real cluster:
AQE on (runtime re-planning, skew-join handling, partition coalescing),
shuffle partitions sized to cores rather than the 200 default, Arrow on
for the few pandas-UDF boundaries, UTC session timezone so results are
comparable against UTC-naive oracles.

Cores and driver memory are sized from the machine unless
``SPARK_GRAFT_CPUS`` / ``SPARK_GRAFT_DRIVER_MEM`` override them.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> int:
    """``SPARK_GRAFT_CPUS``, else the CPU affinity mask (``nproc``)."""
    env = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or "0")
    if env:
        return env
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 4


def default_driver_mem() -> str:
    """``SPARK_GRAFT_DRIVER_MEM``, else half of physical RAM capped at 8g."""
    half_mib = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**21
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM") or f"{min(8192, half_mib)}m"


def get_spark(app_name: str = "strategicai_visibility_loop_etl_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = default_cpus()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 4)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # The testdata's events.parquet carries TIMESTAMP(NANOS), which
        # Spark rejects unless nanos are read as long.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", default_driver_mem())
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
