"""SparkSession factory tuned for the engine.

Local-mode settings mirror what a 1000-executor cluster deployment would
set per-executor; the knobs that matter at 100 TB (AQE, shuffle
partitions, Arrow batching, skew-join handling) are on by default so the
plans tested here are the plans that ship.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_mem() -> str:
    """A quarter of physical RAM, clamped to 1-32 GiB. The driver heap
    may grow to its limit before collecting, so a limit above what the
    host has lets the JVM run into the kernel's OOM killer (observed: a
    32g-heap test session killed at 15.2 GB RSS on a 16 GB host)."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(32 * 1024, max(1024, phys // 4 // 2**20))}m"


def get_spark(
    app_name: str = "hunt_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or os.environ.get("HUNT_SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        # one shuffle partition per core locally; on a real cluster this is
        # set to ~2-3x total executor cores by the submitter.
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        # Spark's local master also takes local[N,maxFailures] — only
        # the thread count matters here, and '*' falls back to cpus
        n = n.split(",", 1)[0]
        shuffle_partitions = cpus if n in ("*", "") else int(n)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # local-mode driver == the one executor: all task threads share
        # this heap. 8g starved 32 concurrent tasks at the bench's
        # 50k-doc scale (driver-observed "Java heap space" in r5's
        # sf1.0 rebench), so large hosts keep up to 32g; small hosts
        # get a quarter of their RAM. HUNT_SPARK_DRIVER_MEM overrides.
        .config(
            "spark.driver.memory",
            os.environ.get("HUNT_SPARK_DRIVER_MEM") or default_driver_mem(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
