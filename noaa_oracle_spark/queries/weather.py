"""The four reference weather queries as pure DataFrame functions.

Parity targets (all in /root/reference/crates/oracle/src/db/weather_data.rs):
  - stations            :713-752   (DISTINCT station dimension)
  - observation_data    :426-577   (whole-window per-station aggregate)
  - daily_observations  :579-704   (per-station per-day rollup)
  - forecasts_data      :90-424    (latest-wins dedup → per-field native-
                                    duration precip → daily rollup → join)

Each function takes an already-normalized snapshot DataFrame (see
sources/reader.read_snapshots) so the same plan runs over batch files, temp
views, or a streaming source. Request-level concerns (file pruning, station
CSV parsing, unit conversion) compose around them.

Plan-shape notes for 100 TB:
  - All filters are plain Column predicates on storage columns → Catalyst
    pushes them into the parquet scan (station IN-lists and RFC3339 string
    ranges both reach PushedFilters).
  - Conditional aggregation (`agg FILTER`) is one pass — partial aggregation
    map-side, final after one shuffle on the group keys.
  - The forecast query's per-field duration detection reuses one shuffle on
    (station_id, date): the window, the HAVING aggregate, the fallback-min
    and the daily sums all hash-partition on the same prefix.
  - The correlated scalar subquery fallback (weather_data.rs:314-343) is
    decorrelated into a groupBy-min join — deterministic, no nested-loop.

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

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from noaa_oracle_spark.functions.weather import (
    classify_precip,
    in_range,
    magnus_humidity,
    temp_to_unit,
    ts,
)
from noaa_oracle_spark.operators.dedup import distinct_on


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


def _best_duration(
    rows: DataFrame, field: str
) -> DataFrame:
    """Native-interval detection for one precip field
    (weather_data.rs:256-305): chain statistics per (station, date,
    duration) via LEAD, HAVING count>1, then argmax by chain ratio with
    shortest-duration tiebreak."""
    from pyspark.sql.window import Window

    f = rows.filter(F.col(field).isNotNull())
    w = Window.partitionBy("station_id", "date", "duration_secs").orderBy(
        "begin_ts"
    )
    chained = f.withColumn("next_begin", F.lead("begin_ts").over(w))
    stats = (
        chained.groupBy("station_id", "date", "duration_secs")
        .agg(
            F.count(F.lit(1)).alias("row_count"),
            F.sum(
                F.when(
                    F.col("next_begin").isNotNull()
                    & (F.col("end_ts") == F.col("next_begin")),
                    1,
                ).otherwise(0)
            ).alias("chain_count"),
        )
        .filter(F.col("row_count") > 1)
    )
    return distinct_on(
        stats.withColumn(
            "chain_ratio",
            F.col("chain_count").cast("float") / F.col("row_count"),
        ),
        keys=["station_id", "date"],
        order_by=[
            F.desc("chain_ratio"),
            F.asc("duration_secs"),
        ],
    ).select("station_id", "date", "duration_secs")


def _daily_field(rows: DataFrame, field: str) -> DataFrame:
    """SUM a precip field at its native duration with fallback to the
    shortest available duration (weather_data.rs:309-345). The correlated
    scalar subquery `(SELECT MIN(duration) ... WHERE same station/date)` is
    decorrelated into a groupBy-min join — same result, no nested loop."""
    f = rows.filter(F.col(field).isNotNull())
    best = _best_duration(rows, field).withColumnRenamed(
        "duration_secs", "best_duration"
    )
    fallback = f.groupBy("station_id", "date").agg(
        F.min("duration_secs").alias("fallback_duration")
    )
    picked = (
        f.join(best, ["station_id", "date"], "left")
        .join(fallback, ["station_id", "date"], "left")
        .filter(
            F.col("duration_secs")
            == F.coalesce(F.col("best_duration"), F.col("fallback_duration"))
        )
    )
    return picked.groupBy("station_id", "date").agg(*_precip_aggs()[field])


@functools.cache
def _precip_aggs() -> dict[str, tuple[Column, ...]]:
    """Per precip field, its daily aggregates at the picked duration
    (weather_data.rs:309-345)."""
    qpf = F.col("liquid_precipitation_amt")
    sa, sr = F.col("snow_amt"), F.col("snow_ratio")
    ia = F.col("ice_amt")
    return {
        "liquid_precipitation_amt": (
            F.sum(F.when(qpf.isNotNull() & (qpf >= 0), qpf)).alias("total_qpf"),
        ),
        "snow_amt": (
            F.sum(F.when(sa.isNotNull() & (sa >= 0), sa)).alias("snow_amt"),
            F.avg(F.when(sr.isNotNull() & (sr > 0), sr)).alias("avg_snow_ratio"),
        ),
        "ice_amt": (
            F.sum(F.when(ia.isNotNull() & (ia >= 0), ia)).alias("ice_amt"),
        ),
    }


@functools.cache
def _forecast_daily_aggs() -> tuple[Column, ...]:
    """The per-(station, day) forecast aggregates with the reference's
    range guards (weather_data.rs:365-373)."""
    mt, xt = F.col("min_temp"), F.col("max_temp")
    w, d = F.col("wind_speed"), F.col("wind_direction")
    hx, hn = F.col("relative_humidity_max"), F.col("relative_humidity_min")
    pc = F.col("twelve_hour_probability_of_precipitation")
    return (
        F.min("begin_time").alias("start_time"),
        F.max("end_time").alias("end_time"),
        F.min(F.when(in_range(mt, -200, 200), mt)).alias("temp_low"),
        F.max(F.when(in_range(xt, -200, 200), xt)).alias("temp_high"),
        F.max(F.when(in_range(w, 0, 500), w)).alias("wind_speed"),
        F.max(F.when(in_range(d, 0, 360), d)).alias("wind_direction"),
        F.max(F.when(in_range(hx, 0, 100), hx)).alias("humidity_max"),
        F.min(F.when(in_range(hn, 0, 100), hn)).alias("humidity_min"),
        F.max("temperature_unit_code").alias("temperature_unit_code"),
        F.max(F.when(pc.isNotNull(), pc)).alias("precip_chance"),
    )


@functools.cache
def _forecast_rain() -> Column:
    """Rain derived from QPF less snow water and ice
    (weather_data.rs:377-401)."""
    return F.greatest(
        F.lit(0.0),
        F.coalesce(
            F.col("total_qpf")
            - (F.col("dp_snow_amt") / F.nullif(F.col("avg_snow_ratio"), F.lit(0.0)))
            - F.coalesce(F.col("dp_ice_amt"), F.lit(0.0)),
            F.col("total_qpf") - F.coalesce(F.col("dp_ice_amt"), F.lit(0.0)),
        ),
    )


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
    native-duration precipitation (weather_data.rs:90-424)."""
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

    # The typed header casts twelve_hour_probability_of_precipitation to
    # DOUBLE (weather_data.rs:200); mirror that.
    df = df.withColumn(
        "twelve_hour_probability_of_precipitation",
        F.col("twelve_hour_probability_of_precipitation").cast("double"),
    )

    # Latest-wins dedup per (station, window) normalized to UTC instants
    # (weather_data.rs:213-235). generated_at DESC picks the freshest
    # forecast; RFC3339-string tiebreak makes the pick total and stable.
    deduped = distinct_on(
        df.withColumn("begin_ts", ts("begin_time")).withColumn(
            "end_ts", ts("end_time")
        ),
        keys=["station_id", "begin_ts", "end_ts"],
        order_by=[F.desc(ts("generated_at")), F.desc("generated_at")],
    )

    precip_rows = (
        deduped.filter(
            F.col("liquid_precipitation_amt").isNotNull()
            | F.col("snow_amt").isNotNull()
            | F.col("ice_amt").isNotNull()
        )
        .select(
            "station_id",
            _day_text(F.col("begin_ts")).alias("date"),
            "begin_ts",
            "end_ts",
            (
                F.unix_timestamp("end_ts") - F.unix_timestamp("begin_ts")
            ).alias("duration_secs"),
            "liquid_precipitation_amt",
            "snow_amt",
            "snow_ratio",
            "ice_amt",
        )
    )

    daily_qpf = _daily_field(precip_rows, "liquid_precipitation_amt")
    daily_snow = _daily_field(precip_rows, "snow_amt")
    daily_ice = _daily_field(precip_rows, "ice_amt")

    # FULL OUTER join chain with key coalescing (weather_data.rs:347-358).
    # Spark's USING-column full outer join coalesces the keys for us.
    daily_precip = daily_qpf.join(
        daily_snow, ["station_id", "date"], "full_outer"
    ).join(daily_ice, ["station_id", "date"], "full_outer")

    daily_forecasts = (
        deduped.withColumn("date", _day_text(F.col("begin_ts")))
        .groupBy("station_id", "date")
        .agg(*_forecast_daily_aggs())
    )

    # Final projection + window clamp + rain derivation
    # (weather_data.rs:377-401). daily_forecasts is already unique per
    # (station, date) so the reference's outer GROUP BY is an identity
    # re-aggregation — expressed here as plain column math after the join.
    start_col = F.col("start_time")
    if start is not None:
        start_col = F.greatest(F.lit(_rfc3339(start)), start_col)
    end_col = F.col("end_time")
    if end is not None:
        end_col = F.least(F.lit(_rfc3339(end)), end_col)

    out = (
        daily_forecasts.join(
            daily_precip.withColumnRenamed("snow_amt", "dp_snow_amt")
            .withColumnRenamed("ice_amt", "dp_ice_amt"),
            ["station_id", "date"],
            "left",
        )
        .select(
            "station_id",
            "date",
            start_col.alias("start_time"),
            end_col.alias("end_time"),
            "temp_low",
            "temp_high",
            "wind_speed",
            "wind_direction",
            "humidity_max",
            "humidity_min",
            "temperature_unit_code",
            "precip_chance",
            _forecast_rain().alias("rain_amt"),
            F.col("dp_snow_amt").alias("snow_amt"),
            F.col("dp_ice_amt").alias("ice_amt"),
        )
    )
    return _convert_temps(out, temperature_unit)
