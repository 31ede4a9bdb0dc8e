"""SparkSession factory with scale-oriented defaults.

Defaults are tuned so the same logical plans that pass correctness on
local[32] keep working on a 1000-executor cluster: AQE owns runtime
partition coalescing and skew-join splitting, shuffle partitions are
sized from the parallelism actually available, and Arrow is on for
every pandas-exchange path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "pspf-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (driver convention) or
    all local cores. ``shuffle_partitions`` defaults to ``max(cpus, 4)``:
    the core count, but never fewer than 4 (so 4 on ``local[2]``) — on
    a real cluster you would size this to ~2-3x total executor cores
    and let AQE coalesce; locally, about the core count is right.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 4)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # AQE: runtime re-planning — partition coalescing, skew-join
        # splitting, dynamic broadcast conversion. Essential at scale.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Oracle comparisons (DuckDB reads parquet timestamps UTC-naive).
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for every pandas UDF / toPandas exchange.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        # events.parquet uses TIMESTAMP(NANOS); read as int64 nanos
        # (catalog._read converts to a us timestamp column).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Parquet timestamps with isAdjustedToUTC=false read as plain
        # TIMESTAMP (session tz = UTC), not TIMESTAMP_NTZ — DuckDB reads
        # the same values timezone-naive, so both engines agree, and the
        # whole ts-function surface (unix_micros, window, watermarks)
        # stays on one timestamp type.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # The default 100-entry codegen class cache LRU-evicts when a
        # session runs the whole 47-query catalog; an evicted heavy
        # shape (e.g. the O(n^2) pair join) recompiles at 15-45 s.
        # Keep every compiled shape resident — compile once per
        # process, steady-state after that.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_utc(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable session configs the engine relies on.

    Called by every query entry point so results are deterministic even
    when the caller (e.g. the verification driver) built the session
    without `get_spark`: UTC timezone, and nanos-timestamps read as
    int64 (catalog._read converts them to us timestamp columns).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    return spark
