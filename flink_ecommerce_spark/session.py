"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32) with
one shuffle partition per core; the same conf keys are what we'd set
cluster-side at 100 TB, where the only changes are master/cores and
the shuffle-partition count, which a caller sets through
``extra_conf`` (AQE then coalesces the small partitions).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """About half the host's physical memory, capped at 48g: a heap
    sized past the host gets the JVM killed, not garbage-collected."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(phys // 2 // 2**20, 48 * 1024)}m"


def get_spark(
    app_name: str = "flink_ecommerce_spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # test parquet stores events.ts as TIMESTAMP(NANOS); read the raw
        # int64 and convert in catalog.table (Spark has no nanos type)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # local fixtures are single small files — split finer so scan
        # tasks ≈ cores (a cluster with many files may want the 128m
        # default back: pass it in extra_conf)
        .config("spark.sql.files.maxPartitionBytes", "8m")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
