"""The four reference weather queries as DataFrame functions.

Parity targets (all in /root/reference/crates/oracle/src/db/weather_data.rs):
  - stations            :713-752   (DISTINCT station dimension)
  - observation_data    :426-577   (whole-window per-station aggregate)
  - daily_observations  :579-704   (per-station per-day rollup)
  - forecasts_data      :90-424    (latest-wins dedup → per-field native-
                                    duration precip → daily rollup → join)

Each function takes an already-normalized snapshot DataFrame (see
sources/reader.read_snapshots) so the same plan runs over batch files or
temp views. Request-level concerns (file pruning, station CSV parsing,
unit conversion) compose around them.

Plan-shape notes for 100 TB:
  - All filters are plain Column predicates on storage columns → Catalyst
    pushes them into the parquet scan (station IN-lists and RFC3339 string
    ranges both reach PushedFilters).
  - Conditional aggregation (`agg FILTER`) is one pass — partial aggregation
    map-side, final after one shuffle on the group keys.
  - The forecast query's window/aggregate chain (latest-wins dedup, the
    per-field native-duration pick with its correlated MIN fallback, the
    daily aggregates and their joins) is one pandas kernel,
    `forecast_rollup`, whose every group key holds station_id. The route
    runs it as a grouped map after ONE exchange on a hash bucket of
    station_id, so a bucket holds whole stations and one pandas call
    rolls up many of them: two Spark jobs per request instead of one
    operator tree (and ~25 jobs) per window and join. The scoring update
    runs the same kernel on the driver over its event's stations.

Request-invariant Column expressions (the aggregate lists, the precip
classifier, the per-unit conversions) are built once per process by
`functools.cache` builders: each Column costs py4j round trips, about
0.1 s of plan building per dashboard request on a 4-core host. A Column is
an unresolved expression tree, not bound to a plan or session, so one
instance serves every request; `alias` takes a fresh expression id at each
use. Filters on the request's stations and window are built per request.
"""

from __future__ import annotations

import functools
from collections.abc import Sequence
from datetime import datetime, timedelta, timezone

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from noaa_oracle_spark.functions.weather import (
    classify_precip,
    in_range,
    magnus_humidity,
    temp_to_unit,
    ts,
)


def _rfc3339(dt: datetime) -> str:
    return dt.astimezone(timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")


def _day_text(col) -> "F.Column":
    """`DATE_TRUNC('day', x)::TEXT` — DuckDB's day-granularity date_trunc
    returns a DATE, rendered 'YYYY-MM-DD' (verified against DuckDB 1.0;
    daily_observations/forecasts date buckets, weather_data.rs:242, :657).
    `x::TIMESTAMP` on an offset-bearing RFC3339 string honors the offset and
    normalizes to UTC — identical to to_timestamp under a UTC session TZ."""
    return F.date_format(F.date_trunc("day", col), "yyyy-MM-dd")


def stations(observations: DataFrame) -> DataFrame:
    """DISTINCT station dimension over all observation snapshots
    (weather_data.rs:713-752). COALESCE('' ) defaults for late-added cols."""
    return observations.select(
        F.col("station_id"),
        F.coalesce("station_name", F.lit("")).alias("station_name"),
        F.coalesce("state", F.lit("")).alias("state"),
        F.coalesce("iata_id", F.lit("")).alias("iata_id"),
        F.col("elevation_m"),
        F.col("latitude"),
        F.col("longitude"),
    ).dropDuplicates()


def _obs_filtered(
    observations: DataFrame,
    station_ids: Sequence[str] | None,
    start: datetime | None,
    end: datetime | None,
) -> DataFrame:
    df = observations
    if station_ids:
        df = df.filter(F.col("station_id").isin(list(station_ids)))
    if start is not None:
        df = df.filter(ts("generated_at") >= F.lit(_rfc3339(start)).cast("timestamp"))
    if end is not None:
        df = df.filter(ts("generated_at") <= F.lit(_rfc3339(end)).cast("timestamp"))
    return df


@functools.cache
def _precip_type() -> Column:
    """CASE chain classifying each observation's precip type
    (weather_data.rs:514-530)."""
    return classify_precip(F.col("wx_string"), F.col("temperature_value"))


def _with_precip_type(df: DataFrame) -> DataFrame:
    return df.withColumn("precip_type", _precip_type())


@functools.cache
def _obs_aggs() -> tuple[Column, ...]:
    """The shared aggregate list of observation_data / daily_observations
    (weather_data.rs:531-554, :655-673)."""
    t = F.col("temperature_value")
    w = F.col("wind_speed")
    d = F.col("wind_direction")
    p = F.col("precip_in")
    return (
        F.min(t).alias("temp_low"),
        F.max(t).alias("temp_high"),
        F.max(F.when(in_range(w, 0, 500), w)).alias("wind_speed"),
        F.max("temperature_unit_code").alias("temperature_unit_code"),
        F.max(F.when(in_range(d, 0, 360), d)).alias("wind_direction"),
        magnus_humidity(F.avg("dewpoint_value"), F.avg(t)).alias("humidity"),
        F.sum(
            F.when(p.isNotNull() & (p >= 0) & (F.col("precip_type") == "rain"), p)
        ).alias("rain_amt"),
        F.sum(
            F.when(
                p.isNotNull() & (p >= 0) & (F.col("precip_type") == "snow"),
                p * F.lit(10.0),
            )
        ).alias("snow_amt"),
        F.sum(
            F.when(p.isNotNull() & (p >= 0) & (F.col("precip_type") == "ice"), p)
        ).alias("ice_amt"),
    )


def observation_data(
    observations: DataFrame,
    station_ids: Sequence[str] | None = None,
    start: datetime | None = None,
    end: datetime | None = None,
    temperature_unit: str | None = None,
) -> DataFrame:
    """Whole-window per-station observation aggregate
    (weather_data.rs:426-577). One shuffle on station_id."""
    df = _with_precip_type(_obs_filtered(observations, station_ids, start, end))

    start_expr = F.min("generated_at")
    if start is not None:
        start_expr = F.greatest(F.lit(_rfc3339(start)), start_expr)
    end_expr = F.max("generated_at")
    if end is not None:
        end_expr = F.least(F.lit(_rfc3339(end)), end_expr)

    out = df.groupBy("station_id").agg(
        start_expr.alias("start_time"),
        end_expr.alias("end_time"),
        *_obs_aggs(),
    )
    return _convert_temps(out, temperature_unit)


def daily_observations(
    observations: DataFrame,
    station_ids: Sequence[str] | None = None,
    start: datetime | None = None,
    end: datetime | None = None,
    temperature_unit: str | None = None,
) -> DataFrame:
    """Per-station per-UTC-day rollup (weather_data.rs:579-704).

    Day bucket is `DATE_TRUNC('day', generated_at::TIMESTAMP)::TEXT` (:657);
    DuckDB's varchar→timestamp cast honors RFC3339 offsets and normalizes to
    UTC, so under a UTC session TZ Spark's to_timestamp matches exactly."""
    df = _with_precip_type(_obs_filtered(observations, station_ids, start, end))
    out = (
        df.withColumn("date", _day_text(ts("generated_at")))
        .groupBy("station_id", "date")
        .agg(*_obs_aggs())
    )
    return _convert_temps(out, temperature_unit)


@functools.cache
def _unit_columns(unit: str) -> dict[str, Column]:
    """temp_low / temp_high / temperature_unit_code converted to `unit`.
    The dict is shared by every caller; read it, never mutate it."""
    u = F.col("temperature_unit_code")
    return {
        "temp_low": temp_to_unit(F.col("temp_low"), u, unit),
        "temp_high": temp_to_unit(F.col("temp_high"), u, unit),
        "temperature_unit_code": F.lit(unit),
    }


def _convert_temps(df: DataFrame, unit: str | None) -> DataFrame:
    """Temperature conversion applied in-plan (the reference converts after
    Arrow decode, weather_data.rs:1234-1262; doing it as Column expressions
    keeps it inside codegen)."""
    if unit is None:
        return df
    return df.withColumns(_unit_columns(unit))


# ---------------------------------------------------------------------------
# forecasts_data — the hardest query (weather_data.rs:90-424)
# ---------------------------------------------------------------------------


def default_generated_window(
    start: datetime | None,
    generated_start: datetime | None,
    generated_end: datetime | None,
    now: datetime | None = None,
) -> tuple[datetime | None, datetime | None]:
    """Freshness-window defaulting for forecast generated_at
    (weather_data.rs:130-153): when no generated range is given and a start
    is, use [previous-day-midnight(start), now] if start ≤ now+1d, else
    [now−1d, now]."""
    if generated_start is not None or generated_end is not None:
        return generated_start, generated_end
    if start is None:
        return None, None
    now = now or datetime.now(timezone.utc)
    threshold = now + timedelta(days=1)
    if start <= threshold:
        prev_midnight = datetime(
            start.astimezone(timezone.utc).year,
            start.astimezone(timezone.utc).month,
            start.astimezone(timezone.utc).day,
            tzinfo=timezone.utc,
        ) - timedelta(days=1)
        return prev_midnight, now
    return now - timedelta(days=1), now


def forecast_rows(
    forecasts: DataFrame,
    station_ids: Sequence[str] | None = None,
    start: datetime | None = None,
    end: datetime | None = None,
    generated_start: datetime | None = None,
    generated_end: datetime | None = None,
    now: datetime | None = None,
) -> DataFrame:
    """The input of `forecast_rollup`: the forecast rows of the request's
    stations and windows (weather_data.rs:213-235), their UTC instants as
    epoch microseconds, the UTC day bucket and the window's duration
    (:237-250). The probability of precipitation is a DOUBLE, as the typed
    header casts it (:200)."""
    generated_start, generated_end = default_generated_window(
        start, generated_start, generated_end, now
    )
    df = forecasts
    if station_ids:
        df = df.filter(F.col("station_id").isin(list(station_ids)))
    if start is not None:
        df = df.filter(ts("end_time") > F.lit(_rfc3339(start)).cast("timestamp"))
    if end is not None:
        df = df.filter(ts("begin_time") < F.lit(_rfc3339(end)).cast("timestamp"))
    if generated_start is not None:
        df = df.filter(
            ts("generated_at") >= F.lit(_rfc3339(generated_start)).cast("timestamp")
        )
    if generated_end is not None:
        df = df.filter(
            ts("generated_at") <= F.lit(_rfc3339(generated_end)).cast("timestamp")
        )
    begin_ts, end_ts = ts("begin_time"), ts("end_time")
    return df.select(
        "station_id",
        _day_text(begin_ts).alias("date"),
        "begin_time",
        "end_time",
        F.unix_micros(begin_ts).alias("begin_us"),
        F.unix_micros(end_ts).alias("end_us"),
        (F.unix_timestamp(end_ts) - F.unix_timestamp(begin_ts)).alias(
            "duration_secs"
        ),
        "generated_at",
        F.unix_micros(ts("generated_at")).alias("generated_us"),
        "min_temp",
        "max_temp",
        "wind_speed",
        "wind_direction",
        "relative_humidity_max",
        "relative_humidity_min",
        "temperature_unit_code",
        F.col("twelve_hour_probability_of_precipitation")
        .cast("double")
        .alias("precip_chance"),
        "liquid_precipitation_amt",
        "snow_amt",
        "snow_ratio",
        "ice_amt",
    )


_DAY = ["station_id", "date"]

#: The per-(station, day) aggregates: (output, input, reduction, the
#: reference's range guard) (weather_data.rs:360-373).
_DAILY_AGGS = (
    ("start_time", "begin_time", "min", None),
    ("end_time", "end_time", "max", None),
    ("temp_low", "min_temp", "min", (-200, 200)),
    ("temp_high", "max_temp", "max", (-200, 200)),
    ("wind_speed", "wind_speed", "max", (0, 500)),
    ("wind_direction", "wind_direction", "max", (0, 360)),
    ("humidity_max", "relative_humidity_max", "max", (0, 100)),
    ("humidity_min", "relative_humidity_min", "min", (0, 100)),
    ("temperature_unit_code", "temperature_unit_code", "max", None),
    ("precip_chance", "precip_chance", "max", None),
)
_INT_COLUMNS = ("temp_low", "temp_high", "wind_speed", "wind_direction",
                "humidity_max", "humidity_min")
FORECAST_COLUMNS = (
    "station_id", "date", "start_time", "end_time", "temp_low", "temp_high",
    "wind_speed", "wind_direction", "humidity_max", "humidity_min",
    "temperature_unit_code", "precip_chance", "rain_amt", "snow_amt",
    "ice_amt",
)


def _daily_aggs(rows: pd.DataFrame) -> pd.DataFrame:
    cols = {}
    for out, col, _, guard in _DAILY_AGGS:
        v = rows[col]
        if guard is not None:
            v = v.where(v.between(*guard))
        elif v.dtype == object:
            v = v.astype("string")  # min/max that skip NULL text
        cols[out] = v
    return (
        pd.DataFrame(cols)
        .assign(station_id=rows["station_id"], date=rows["date"])
        .groupby(_DAY, dropna=False)
        .agg({out: how for out, _, how, _ in _DAILY_AGGS})
    )


def _native_duration_rows(precip: pd.DataFrame, field: str) -> pd.DataFrame:
    """The rows of one precip field at its native duration per (station,
    day): among durations with more than one row, the one whose windows
    chain end-to-begin for the largest share of its rows, ties to the
    shorter; else the shortest duration with a value
    (weather_data.rs:256-345)."""
    by_duration = [*_DAY, "duration_secs"]
    f = precip[precip[field].notna()].sort_values(
        [*by_duration, "begin_us"], na_position="first"
    )
    next_begin = f.groupby(by_duration, dropna=False)["begin_us"].shift(-1)
    stats = (
        (f["end_us"] == next_begin)
        .groupby([f[k] for k in by_duration], dropna=False)
        .agg(["size", "sum"])
    )
    stats = stats[stats["size"] > 1]
    best = (
        (stats["sum"] / stats["size"])
        .rename("ratio")
        .reset_index()
        .sort_values([*_DAY, "ratio", "duration_secs"],
                     ascending=[True, True, False, True], na_position="first")
        .drop_duplicates(_DAY)
        .set_index(_DAY)["duration_secs"]
    )
    fallback = f.groupby(_DAY, dropna=False)["duration_secs"].min()
    picked = best.combine_first(fallback).rename("picked")
    f = f.join(picked, on=_DAY)
    return f[f["duration_secs"] == f["picked"]]


def _day_sum(rows: pd.DataFrame, col: str) -> pd.Series:
    """SUM(col) FILTER (WHERE col >= 0) per (station, day)."""
    v = rows[col]
    return v.where(v >= 0).groupby(
        [rows[k] for k in _DAY], dropna=False).sum(min_count=1)


def _daily_precip(rows: pd.DataFrame) -> pd.DataFrame:
    """Each precip field summed per (station, day) at its native duration,
    outer-joined on (station, day) (weather_data.rs:309-358). A row with no
    day matches no day in the reference's joins, so it has no precip."""
    precip = rows[
        rows[["liquid_precipitation_amt", "snow_amt", "ice_amt"]]
        .notna().any(axis=1) & rows["date"].notna()
    ]
    qpf, snow, ice = (
        _native_duration_rows(precip, f)
        for f in ("liquid_precipitation_amt", "snow_amt", "ice_amt")
    )
    ratio = snow["snow_ratio"]
    return pd.concat(
        {
            "total_qpf": _day_sum(qpf, "liquid_precipitation_amt"),
            "snow_amt": _day_sum(snow, "snow_amt"),
            "avg_snow_ratio": ratio.where(ratio > 0).groupby(
                [snow[k] for k in _DAY], dropna=False).mean(),
            "ice_amt": _day_sum(ice, "ice_amt"),
        },
        axis=1,
    ).astype("float64")


def forecast_rollup(
    rows: pd.DataFrame,
    start: datetime | None = None,
    end: datetime | None = None,
) -> pd.DataFrame:
    """The daily per-station forecast rollup (weather_data.rs:213-401) over
    `forecast_rows` output, for any number of stations at once: every group
    key holds station_id. Latest-wins dedup, the native-duration precip
    pick, the guarded daily aggregates, rain derivation and the clamp of
    each day to [start, end]. Rows come out in `FORECAST_COLUMNS`."""
    # latest-wins per (station, window) as UTC instants (:213-235): the
    # freshest generated_at, then its RFC3339 text, makes the pick total
    rows = rows.sort_values(
        ["generated_us", "generated_at"], ascending=False, na_position="last"
    ).drop_duplicates(["station_id", "begin_us", "end_us"])
    out = _daily_aggs(rows).join(_daily_precip(rows))
    # rain is QPF less snow water and ice, floored at 0 (:377-401); the
    # average of positive snow ratios is never 0, so NULLIF(.., 0) is moot
    qpf, ice = out["total_qpf"], out["ice_amt"].fillna(0.0)
    rain = (qpf - out["snow_amt"] / out["avg_snow_ratio"] - ice).fillna(
        qpf - ice
    )
    out["rain_amt"] = rain.clip(lower=0.0).fillna(0.0)
    if start is not None:
        s = _rfc3339(start)
        out["start_time"] = out["start_time"].where(
            (out["start_time"] > s).fillna(False), s)
    if end is not None:
        e = _rfc3339(end)
        out["end_time"] = out["end_time"].where(
            (out["end_time"] < e).fillna(False), e)
    out = out.reset_index()
    for c in _INT_COLUMNS:
        out[c] = out[c].astype("Int64")
    return out[list(FORECAST_COLUMNS)]


def _rollup_schema(start: datetime | None, end: datetime | None) -> T.StructType:
    """`forecast_rollup`'s Spark types. A clamped window end is never NULL,
    nor is rain_amt (GREATEST with 0)."""
    not_null = {"rain_amt"}
    if start is not None:
        not_null.add("start_time")
    if end is not None:
        not_null.add("end_time")
    types = {c: T.LongType() for c in _INT_COLUMNS}
    types.update({c: T.DoubleType() for c in
                  ("precip_chance", "rain_amt", "snow_amt", "ice_amt")})
    return T.StructType([
        T.StructField(c, types.get(c, T.StringType()), c not in not_null)
        for c in FORECAST_COLUMNS
    ])


def forecasts_data(
    forecasts: DataFrame,
    station_ids: Sequence[str] | None = None,
    start: datetime | None = None,
    end: datetime | None = None,
    generated_start: datetime | None = None,
    generated_end: datetime | None = None,
    now: datetime | None = None,
    temperature_unit: str | None = None,
) -> DataFrame:
    """Daily per-station forecast rollup with latest-wins dedup and per-field
    native-duration precipitation (weather_data.rs:90-424). The rows are
    filtered and cast in Spark; one exchange on a hash of station_id then
    runs `forecast_rollup` once per bucket of stations."""
    rows = forecast_rows(
        forecasts, station_ids, start, end, generated_start, generated_end, now
    )
    buckets = rows.sparkSession.sparkContext.defaultParallelism
    out = rows.groupBy(F.abs(F.hash("station_id")) % buckets).applyInPandas(
        lambda pdf: forecast_rollup(pdf, start, end),
        _rollup_schema(start, end),
    )
    return _convert_temps(out, temperature_unit)
