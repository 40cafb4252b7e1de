"""Canonical snapshot schemas.

Mirrors the reference's Parquet writer schemas:
  - observations: 19 columns
    (crates/daemon/src/domains/observations/download_observations.rs:154-294)
  - forecasts: 30 columns
    (crates/daemon/src/domains/forecasts/download_forecast.rs:161-384)

Old snapshot files genuinely lack the late-added columns (observations: 16
cols, forecasts: 23 cols — verified against e2e/fixtures/weather_data/
2026-01-17/). The reference reconciles with `read_parquet(..., union_by_name)`
UNION ALL'd against a zero-row typed header (weather_data.rs:198-211); we
reconcile against these StructTypes in sources/reader.py.

Timestamps are RFC3339 *strings* in storage (cast at query time,
weather_data.rs:215) — kept as StringType for byte-compatibility. Within a
single UTC offset RFC3339 strings sort lexicographically as instants, which
keeps predicate pushdown on the string column valid; queries normalize with
to_timestamp for cross-offset correctness.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

# Columns present in every observation file (original writer schema).
_OBS_BASE = [
    T.StructField("station_id", T.StringType(), False),
    T.StructField("station_name", T.StringType(), True),
    T.StructField("latitude", T.DoubleType(), True),
    T.StructField("longitude", T.DoubleType(), True),
    T.StructField("generated_at", T.StringType(), True),
    T.StructField("temperature_value", T.DoubleType(), True),
    T.StructField("temperature_unit_code", T.StringType(), True),
    T.StructField("wind_direction", T.LongType(), True),
    T.StructField("wind_direction_unit_code", T.StringType(), True),
    T.StructField("wind_speed", T.LongType(), True),
    T.StructField("wind_speed_unit_code", T.StringType(), True),
    T.StructField("dewpoint_value", T.DoubleType(), True),
    T.StructField("dewpoint_unit_code", T.StringType(), True),
    T.StructField("state", T.StringType(), True),
    T.StructField("iata_id", T.StringType(), True),
    T.StructField("elevation_m", T.DoubleType(), True),
]

# Late-added columns ("New fields at the end for backwards compatibility",
# download_observations.rs:111) — absent from old files.
_OBS_NEW = [
    T.StructField("precip_in", T.DoubleType(), True),
    T.StructField("precip_unit_code", T.StringType(), True),
    T.StructField("wx_string", T.StringType(), True),
]

OBSERVATIONS_SCHEMA = T.StructType(_OBS_BASE + _OBS_NEW)
OBSERVATIONS_OLD_SCHEMA = T.StructType(_OBS_BASE)

_FCST_BASE = [
    T.StructField("station_id", T.StringType(), False),
    T.StructField("station_name", T.StringType(), True),
    T.StructField("latitude", T.DoubleType(), True),
    T.StructField("longitude", T.DoubleType(), True),
    T.StructField("generated_at", T.StringType(), True),
    T.StructField("begin_time", T.StringType(), True),
    T.StructField("end_time", T.StringType(), True),
    T.StructField("max_temp", T.LongType(), True),
    T.StructField("min_temp", T.LongType(), True),
    T.StructField("temperature_unit_code", T.StringType(), True),
    T.StructField("wind_speed", T.LongType(), True),
    T.StructField("wind_speed_unit_code", T.StringType(), True),
    T.StructField("wind_direction", T.LongType(), True),
    T.StructField("wind_direction_unit_code", T.StringType(), True),
    T.StructField("relative_humidity_max", T.LongType(), True),
    T.StructField("relative_humidity_min", T.LongType(), True),
    T.StructField("relative_humidity_unit_code", T.StringType(), True),
    T.StructField("liquid_precipitation_amt", T.DoubleType(), True),
    T.StructField("liquid_precipitation_unit_code", T.StringType(), True),
    T.StructField(
        "twelve_hour_probability_of_precipitation", T.LongType(), True
    ),
    T.StructField(
        "twelve_hour_probability_of_precipitation_unit_code",
        T.StringType(),
        True,
    ),
    T.StructField("state", T.StringType(), True),
    T.StructField("iata_id", T.StringType(), True),
    T.StructField("elevation_m", T.DoubleType(), True),
]

_FCST_NEW = [
    T.StructField("snow_amt", T.DoubleType(), True),
    T.StructField("snow_amt_unit_code", T.StringType(), True),
    T.StructField("snow_ratio", T.DoubleType(), True),
    T.StructField("snow_ratio_unit_code", T.StringType(), True),
    T.StructField("ice_amt", T.DoubleType(), True),
    T.StructField("ice_amt_unit_code", T.StringType(), True),
]

FORECASTS_SCHEMA = T.StructType(_FCST_BASE + _FCST_NEW)
FORECASTS_OLD_SCHEMA = T.StructType(_FCST_BASE)

# Station dimension — output shape of the DISTINCT stations query
# (weather_data.rs:1560-1569).
STATIONS_SCHEMA = T.StructType(
    [
        T.StructField("station_id", T.StringType(), False),
        T.StructField("station_name", T.StringType(), True),
        T.StructField("state", T.StringType(), True),
        T.StructField("iata_id", T.StringType(), True),
        T.StructField("elevation_m", T.DoubleType(), True),
        T.StructField("latitude", T.DoubleType(), True),
        T.StructField("longitude", T.DoubleType(), True),
    ]
)


def arrow_table(rows: list[tuple], schema: T.StructType) -> pa.Table:
    """Rows in `schema`'s column order → an Arrow table in its Arrow types
    (what the snapshot writer lands)."""
    target = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(target)
    return pa.Table.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, target)], schema=target
    )
