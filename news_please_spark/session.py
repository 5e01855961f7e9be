"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we would set on a real cluster: AQE on
(skew-join splitting for the per-host key skew, SURVEY.md §4), Arrow on
(every extraction UDF is a vectorized pandas UDF), shuffle partitions
sized to cores rather than the 200 default, a driver heap sized to the
machine's physical memory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DRIVER_MEM_CAP_MB = 48 * 1024
DRIVER_MEM_FLOOR_MB = 1024  # Spark refuses heaps much below this


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """The driver heap to ask for when SPARK_DRIVER_MEM is unset: half of
    physical memory, between 1 GB and 48 GB, so the local-mode JVM (the
    whole "cluster") never grows past what the machine can back. Hosts
    without a readable meminfo get the cap."""
    try:
        with open(meminfo) as f:
            total_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return f"{DRIVER_MEM_CAP_MB}m"
    half_mb = total_kb // 1024 // 2
    return f"{max(DRIVER_MEM_FLOOR_MB, min(DRIVER_MEM_CAP_MB, half_mb))}m"


def driver_memory() -> str:
    """SPARK_DRIVER_MEM when set, else default_driver_memory()."""
    return os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory()


def get_spark(
    app: str = "news_please_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
