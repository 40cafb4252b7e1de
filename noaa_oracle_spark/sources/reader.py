"""Schema-merging snapshot reader.

The reference guarantees every expected column exists with the right type by
UNION ALL BY NAME-ing `read_parquet([...], union_by_name=true)` against a
zero-row typed header SELECT (weather_data.rs:198-211, :500-512, :713-733).

Spark-first equivalent: read the file list with the *canonical* schema passed
explicitly (`spark.read.schema(canonical).parquet(*paths)`). Spark's parquet
reader resolves columns by name against the requested schema and fills
missing columns with NULL — exactly union_by_name + typed-header semantics —
WITHOUT the footer-merging cost of `mergeSchema=true` (which reads every
file's footer on the driver; at 100 TB/100k files that is minutes of planning
time). Column pruning and predicate pushdown still apply because the schema
is declared, not inferred.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from noaa_oracle_spark.schemas import FORECASTS_SCHEMA, OBSERVATIONS_SCHEMA

_KIND_SCHEMAS = {
    "observations": OBSERVATIONS_SCHEMA,
    "forecasts": FORECASTS_SCHEMA,
}

# Target post-scan partition density. Spark sizes file splits by
# (bytes + n_files * openCostInBytes) / defaultParallelism, which on a
# 32-core local session shreds a few MB of hourly snapshot files into ~24
# splits — each task then pays ~10 ms scheduling for ~100 KB of work, and
# interactive queries go scheduling-bound (measured 2-4x the whole-query
# time at the reference's 1x scale). Coalescing to ceil(bytes / 32 MB) —
# floored at a small parallelism so per-file decode overhead still
# overlaps — merges splits WITHOUT a shuffle. Scale-safe by construction:
# at 100 TB the byte-derived target exceeds the scan's split count and
# coalesce() is a no-op.
_TARGET_PARTITION_BYTES = 32 * 1024 * 1024
_MIN_SCAN_PARTITIONS = 8


def _dense_scan(df: DataFrame) -> DataFrame:
    """Coalesce an over-split small scan to byte-proportional density.

    The bytes are the relation's `sizeInBytes` statistic: the sum of the
    leaf files Spark's file index holds for the given paths (the part files
    of a directory-valued snapshot included), on any filesystem, without
    another listing or stat."""
    total = df._jdf.queryExecution().analyzed().stats().sizeInBytes()
    k = max(_MIN_SCAN_PARTITIONS, -(-int(total) // _TARGET_PARTITION_BYTES))
    return df.coalesce(k)


def read_snapshots(
    spark: SparkSession,
    paths: Sequence[str],
    kind: str | None = None,
    schema: T.StructType | None = None,
    with_source_file: bool = False,
) -> DataFrame:
    """Read snapshot parquet files normalized to the canonical schema.

    `paths` empty → empty DataFrame with the canonical schema (the reference
    returns [] without touching DuckDB when no files match,
    weather_data.rs:440-446).
    """
    if schema is None:
        if kind not in _KIND_SCHEMAS:
            raise ValueError(f"unknown snapshot kind: {kind!r}")
        schema = _KIND_SCHEMAS[kind]
    if not paths:
        return spark.createDataFrame([], schema)
    df = _dense_scan(spark.read.schema(schema).parquet(*paths))
    if with_source_file:
        df = df.withColumn("_source_file", F.input_file_name())
    return df
