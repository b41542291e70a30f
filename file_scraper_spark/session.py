"""SparkSession factory.

Local testing runs ``local[N]`` in one JVM; the configs below are chosen
so the same logical plans scale to a multi-executor cluster:

- AQE on (runtime coalesce, skew-join splitting, dynamic broadcast).
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster this is superseded by AQE coalescing from an initial 2000.
- UTC session timezone so timestamp semantics match the reference's
  ``timestamptz`` model (SURVEY §1.4) and the DuckDB oracle.
- Arrow enabled for the Pandas-UDF slow path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> str:
    """``$SPARK_GRAFT_CPUS``, else the cores this process may run on:
    the ``local[N]`` width and the shuffle partition count."""
    if os.environ.get("SPARK_GRAFT_CPUS"):
        return os.environ["SPARK_GRAFT_CPUS"]
    if hasattr(os, "sched_getaffinity"):
        return str(len(os.sched_getaffinity(0)))
    return str(os.cpu_count() or 1)


def get_spark(
    app_name: str = "file_scraper_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = default_cpus()
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # events.parquet stores TIMESTAMP(NANOS); read as epoch-nanos long
        # and convert in tables.load (Spark's TimestampType is micros).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # metadata listing parallelism for the fs source (SURVEY §2.A A13)
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "32")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
