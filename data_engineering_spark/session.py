"""SparkSession factory for the engine.

The reference configures its session ad hoc per script
(/root/reference/incremental_kafka_s3_cdc.py:15-28,
/root/reference/sanpshot_script.py:15-34 — Iceberg + S3 + Kafka packages).
We centralise session construction and default to settings that hold up at
cluster scale:

- AQE on (runtime re-planning, skew-join handling, partition coalescing).
- Arrow on (vectorised Python interchange for the few pandas-UDF operators).
- UTC session timezone so epoch arithmetic (Debezium temporal semantics,
  SURVEY.md §2.8 F4-F7) is deterministic across driver/executors/oracles.
- `spark.sql.shuffle.partitions` sized from the env, not the 200 default;
  AQE coalesces down from there at runtime.
- Driver heap from `SPARK_GRAFT_DRIVER_MEM`, else three quarters of the
  host's physical memory, capped at 16g.

On a real cluster the same builder is used — only master/executor settings
differ, supplied via spark-submit, never hardcoded here.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
MAX_DRIVER_MEMORY_MB = 16 * 1024


def driver_memory(physical_bytes: int | None) -> str:
    """Default driver heap for a host with `physical_bytes` of memory:
    three quarters of it, capped at 16g — the JVM, Python workers and
    the OS page cache share the rest. 16g when the size is unknown."""
    if not physical_bytes:
        return f"{MAX_DRIVER_MEMORY_MB}m"
    return f"{min(MAX_DRIVER_MEMORY_MB, physical_bytes * 3 // 4 // 2**20)}m"


def _physical_memory() -> int | None:
    """Physical memory of this host in bytes (MemTotal), or None."""
    try:
        return os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    except (ValueError, OSError):
        return None


def default_configs(shuffle_partitions: int | None = None) -> dict[str, str]:
    """Engine defaults; every entry is safe on a 1000-executor cluster."""
    sp = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    return {
        # --- adaptive execution: re-plan with runtime stats ---
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # --- shuffle sizing ---
        "spark.sql.shuffle.partitions": str(sp),
        # --- heap: in local mode the driver JVM hosts every executor
        #     thread, so the 1g default starves 32 concurrent tasks
        #     (parquet writers scale row groups down, GC dominates);
        #     sized from physical memory so it fits the host.
        #     Honored only at JVM launch; under spark-submit the
        #     submitted --driver-memory wins ---
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM")
        or driver_memory(_physical_memory()),
        # --- scan sizing: 128 MB splits keep partitions memory-friendly ---
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        # --- Arrow for pandas interchange (extension operators only) ---
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # --- deterministic temporal semantics ---
        "spark.sql.session.timeZone": "UTC",
        # --- broadcast joins for dimension tables (10 MB default is too
        #     small for e.g. a full `part` dim at bench scale) ---
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # --- parquet ---
        "spark.sql.parquet.compression.codec": "snappy",
        # nanosecond parquet timestamps (events.ts) read as TIMESTAMP_NTZ
        # would lose tz math; keep default micros handling in Spark 4.
    }


def iceberg_configs(
    catalog: str = "lake",
    warehouse: str = "s3a://warehouse/",
    catalog_impl: str = "org.apache.iceberg.spark.SparkCatalog",
) -> dict[str, str]:
    """Iceberg catalog session configs — the reference's setup
    (/root/reference/incremental_kafka_s3_cdc.py:21-28) made reusable.
    Requires the iceberg-spark-runtime jar on the classpath (absent in
    this test container; the parquet MergeTable backend covers local
    runs, see operators/merge.py)."""
    return {
        "spark.sql.extensions": (
            "org.apache.iceberg.spark.extensions"
            ".IcebergSparkSessionExtensions"
        ),
        f"spark.sql.catalog.{catalog}": catalog_impl,
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
    }


def s3_configs(
    endpoint: str,
    access_key: str,
    secret_key: str,
    path_style: bool = True,
) -> dict[str, str]:
    """S3/MinIO hadoop-aws configs (reference
    incremental_kafka_s3_cdc.py:15-20 / sanpshot_script.py:15-28).
    Credentials come from the caller's secret store — never hardcode."""
    return {
        "spark.hadoop.fs.s3a.endpoint": endpoint,
        "spark.hadoop.fs.s3a.access.key": access_key,
        "spark.hadoop.fs.s3a.secret.key": secret_key,
        "spark.hadoop.fs.s3a.path.style.access": str(path_style).lower(),
        "spark.hadoop.fs.s3a.impl": "org.apache.hadoop.fs.s3a.S3AFileSystem",
        "spark.hadoop.fs.s3a.connection.ssl.enabled": "false",
    }


def get_session(
    app_name: str = "data-engineering-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    `master` defaults to local[$SPARK_GRAFT_CPUS] when no cluster manager is
    configured in the environment; under spark-submit the submitted master
    wins (we never override an active session's master).
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    for k, v in default_configs().items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
