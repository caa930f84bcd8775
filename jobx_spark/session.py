"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]``; the configuration is written so the
same session settings scale to a multi-executor cluster: AQE on (runtime
coalescing + skew-join handling), shuffle partitions sized explicitly,
Arrow enabled for the Pandas-UDF paths, UTC session timezone so results
are comparable against the DuckDB oracle (DuckDB timestamps are
UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Runtime-settable SQL confs every session runs under, whether built
# here (get_spark) or handed in by the driver (tune_for_session).
SQL_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.parquet.compression.codec": "snappy",
    # testdata parquet stores timestamp[us] with isAdjustedToUTC=false;
    # read it as session-TZ TIMESTAMP (UTC) not TIMESTAMP_NTZ so time
    # functions (unix_micros, window) apply and values match the DuckDB
    # oracle's naive timestamps.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Spark still defaults timestamp writes to deprecated INT96, which
    # carries NO min/max footer stats — every timestamp predicate then
    # reads every row group. Micros is the modern encoding and makes
    # sort-on-write layouts (range-partitioned, sorted within each file)
    # actually prune.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
}


def driver_heap(phys_bytes: int | None = None) -> str:
    """Default driver heap: a quarter of the machine's physical memory
    (whole GiB, at least 1g, at most 16g), so a session never asks for
    more than a shared box can give. ``SPARK_GRAFT_DRIVER_MEM``
    overrides it in :func:`get_spark`."""
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(16, max(1, phys_bytes // 4 // 2**30))}g"


def get_spark(app_name: str = "jobx_spark", cpus: str | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config.

    At 100 TB scale the same knobs apply per-cluster: AQE handles
    post-shuffle partition sizing and skew splitting at runtime, so the
    static ``spark.sql.shuffle.partitions`` only needs to be an upper
    bound (set it ~2-3x total cores on a real cluster).
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or driver_heap(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", str(cpus))
    )
    for key, value in SQL_CONFS.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_for_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine settings to an externally created
    session (the driver hands us its own SparkSession in
    ``__spark_entry__.entry``; static confs like driver memory cannot be
    changed there, but these can)."""
    spark.conf.set("spark.sql.shuffle.partitions", DEFAULT_CPUS)
    for key, value in SQL_CONFS.items():
        spark.conf.set(key, value)
    return spark
