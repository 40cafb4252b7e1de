"""SparkSession factory with the engine's load-bearing defaults.

The reference normalizes every timestamp comparison and daily bucket to UTC
(crates/oracle/src/db/weather_data.rs:242 `AT TIME ZONE 'UTC'`), so the
session timezone is pinned to UTC. AQE is on so that at real scale Spark
re-plans joins (broadcast conversion, skew splitting) from runtime stats.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Shuffle-partition default is decoupled from core count: locally, small
# benchmarks pay ~10 ms scheduling per task per stage, so fewer/fatter
# shuffle partitions win; at real scale AQE's coalescePartitions +
# skew-split decide the effective number anyway, making this an initial
# hint rather than a hard parallelism cap.
DEFAULT_SHUFFLE_PARTITIONS = int(
    os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    or os.environ.get("SPARK_GRAFT_CPUS", "32")
)


def get_spark(
    app_name: str = "noaa-oracle-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession configured for this engine.

    Settings and why they matter at 100 TB:
      - session.timeZone=UTC: parity with the reference's UTC bucketing; also
        makes RFC3339-string comparisons consistent with timestamp semantics.
      - adaptive.enabled + skewJoin: runtime re-planning — broadcast joins
        discovered post-shuffle-stats, skewed partitions split automatically.
      - shuffle.partitions sized to cores locally; on a real cluster AQE
        coalesces small post-shuffle partitions so over-provisioning is safe.
      - parquet mergeSchema off globally (expensive footer reads at scale);
        schema evolution is handled explicitly by the reader (sources/reader.py)
        against a canonical schema instead.
      - Arrow enabled: toPandas()/pandas UDFs transfer columnar batches.
      - parallelPartitionDiscovery.threshold at its maximum: the snapshot
        catalog (sources/catalog.py) has already listed every path a read
        is given, so it is the only listing. At Spark's default of 32
        paths, a 24 h window (48 paths) re-listed them in a distributed
        job with one task per path, about 0.4 s per small read on a
        4-core host. Under the threshold Spark stats the given paths on
        the driver instead.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.mergeSchema", "false")
        # TIMESTAMP(NANOS) parquet columns (events.ts) surface as LongType
        # nanos instead of erroring; loaders convert to micros explicitly.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(2**31 - 1),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
