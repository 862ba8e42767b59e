"""SparkSession factory tuned for the engine.

The reference holds a long-lived warehouse adapter with per-thread
connections and a 3600 s TTL (reference: src/dbt_osmosis/core/config.py:250,
:474-508). Spark needs none of that: one long-lived SparkSession serves all
threads, so this module is the single place session-level tuning lives.

Scale notes (100 TB design intent, tested on local[N]):
- AQE on: runtime coalescing, skew-join splitting, dynamic broadcast joins.
- shuffle.partitions sized to cores locally; on a real cluster AQE's
  coalescing makes the initial number far less critical.
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle (DuckDB timestamps are UTC-naive).
- Arrow enabled: every pandas_udf / toPandas crossing is Arrow-batched.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "dbt_osmosis_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS, then all cores.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet timestamps without tz metadata (timestamp[us]) read as
        # TIMESTAMP (instant, UTC session) not TIMESTAMP_NTZ: watermarks /
        # streaming windows require instant semantics, and DuckDB oracle
        # parity assumes one wall-clock interpretation everywhere.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Partition discovery below this file count lists on the driver
        # (microseconds on local disk) instead of launching a listing JOB
        # (~50-100 ms of fixed scheduling cost). The segmented index
        # layouts are 32-bucket partitioned dirs re-listed on every
        # delete/compact/serve phase, so the default threshold (32) put a
        # distributed listing job in front of nearly every layout read.
        # Deployments with object-store dirs of thousands of files tune it
        # back down via extra_conf; 1024 local files is still a sub-ms list.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
        # Split files finer than the 128m default: local bench files are
        # 10-100 MB and would otherwise scan on 1-3 cores. On a real cluster
        # with TB-scale inputs this still yields full-size splits per task.
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def register_testdata(spark: SparkSession, sf_dir: str) -> None:
    """Register every parquet table under ``sf_dir`` as a temp view.

    Mirrors the reference's ref()/source() resolution target: logical name →
    relation (reference: src/dbt_osmosis/core/sql_operations.py:45). Views keep
    the scan lazy so Catalyst pushes filters/projections into the parquet read.
    """
    from dbt_osmosis_spark.sources.parquet import read_parquet

    for name in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            read_parquet(spark, path).createOrReplaceTempView(name)
