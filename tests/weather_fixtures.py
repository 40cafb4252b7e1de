"""Synthetic weather snapshot fixtures exercising every hard path of the
reference queries (value-generation notes from FIXTURES.md):

observations: old (16-col) + new (19-col) schema files; temps ≤ 2 °C with
empty wx_string (temp-heuristic snow), SN/FZRA codes, out-of-range wind and
wind_direction, NULL dewpoint/temperature (Magnus guard), 'celcius' typo.

forecasts: old (24-col) + new (30-col) files; same (station, begin, end)
window at different generated_at (latest-wins dedup); mixed 3 h/6 h/12 h
durations with chained windows (native-interval detection); single-precip-row
days (HAVING>1 fails → MIN-duration fallback); stations with only QPF / only
snow+ratio / only ice (FULL OUTER coalescing); snow_ratio 0 and NULL
(NULLIF/COALESCE branches); values driving GREATEST(0, ·) clamps;
non-UTC offsets for the same instants (UTC-normalized dedup/bucketing).
"""

from __future__ import annotations

import os
import random
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

UTC = timezone.utc


def rfc(dt: datetime, offset_hours: int = 0) -> str:
    """RFC3339 string, optionally rendered in a non-UTC offset for the same
    instant (exercises cross-offset normalization)."""
    if offset_hours == 0:
        return dt.astimezone(UTC).strftime("%Y-%m-%dT%H:%M:%SZ")
    tz = timezone(timedelta(hours=offset_hours))
    return dt.astimezone(tz).isoformat()


def _write(path: str, rows: list[dict], fields: list[tuple[str, pa.DataType]]):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    arrays = {
        name: pa.array([r.get(name) for r in rows], type=typ)
        for name, typ in fields
    }
    pq.write_table(pa.table(arrays), path)


OBS_OLD_FIELDS = [
    ("station_id", pa.string()),
    ("station_name", pa.string()),
    ("latitude", pa.float64()),
    ("longitude", pa.float64()),
    ("generated_at", pa.string()),
    ("temperature_value", pa.float64()),
    ("temperature_unit_code", pa.string()),
    ("wind_direction", pa.int64()),
    ("wind_direction_unit_code", pa.string()),
    ("wind_speed", pa.int64()),
    ("wind_speed_unit_code", pa.string()),
    ("dewpoint_value", pa.float64()),
    ("dewpoint_unit_code", pa.string()),
    ("state", pa.string()),
    ("iata_id", pa.string()),
    ("elevation_m", pa.float64()),
]
OBS_NEW_FIELDS = OBS_OLD_FIELDS + [
    ("precip_in", pa.float64()),
    ("precip_unit_code", pa.string()),
    ("wx_string", pa.string()),
]

FCST_OLD_FIELDS = [
    ("station_id", pa.string()),
    ("station_name", pa.string()),
    ("latitude", pa.float64()),
    ("longitude", pa.float64()),
    ("generated_at", pa.string()),
    ("begin_time", pa.string()),
    ("end_time", pa.string()),
    ("max_temp", pa.int64()),
    ("min_temp", pa.int64()),
    ("temperature_unit_code", pa.string()),
    ("wind_speed", pa.int64()),
    ("wind_speed_unit_code", pa.string()),
    ("wind_direction", pa.int64()),
    ("wind_direction_unit_code", pa.string()),
    ("relative_humidity_max", pa.int64()),
    ("relative_humidity_min", pa.int64()),
    ("relative_humidity_unit_code", pa.string()),
    ("liquid_precipitation_amt", pa.float64()),
    ("liquid_precipitation_unit_code", pa.string()),
    ("twelve_hour_probability_of_precipitation", pa.int64()),
    ("twelve_hour_probability_of_precipitation_unit_code", pa.string()),
    ("state", pa.string()),
    ("iata_id", pa.string()),
    ("elevation_m", pa.float64()),
]
FCST_NEW_FIELDS = FCST_OLD_FIELDS + [
    ("snow_amt", pa.float64()),
    ("snow_amt_unit_code", pa.string()),
    ("snow_ratio", pa.float64()),
    ("snow_ratio_unit_code", pa.string()),
    ("ice_amt", pa.float64()),
    ("ice_amt_unit_code", pa.string()),
]

D0 = datetime(2026, 1, 15, tzinfo=UTC)

STATIONS = ["KATL", "KBOS", "KSEA", "KDEN", "KJFK"]


def _obs_row(station, hour, **kw):
    base = {
        "station_id": station,
        "station_name": f"{station} Intl",
        "latitude": 33.6 + STATIONS.index(station),
        "longitude": -84.4 - STATIONS.index(station),
        "generated_at": rfc(D0 + timedelta(hours=hour)),
        "temperature_value": 10.0,
        "temperature_unit_code": "celcius",  # NOAA's spelling, kept
        "wind_direction": 180,
        "wind_direction_unit_code": "degrees true",
        "wind_speed": 10,
        "wind_speed_unit_code": "knots",
        "dewpoint_value": 5.0,
        "dewpoint_unit_code": "celcius",
        "state": "GA",
        "iata_id": station[1:],
        "elevation_m": 300.0,
    }
    base.update(kw)
    return base


def write_observation_fixtures(data_dir: str) -> list[str]:
    """Two snapshot files: one old-schema (day 1), one new-schema (day 2)."""
    old_rows = [
        _obs_row("KATL", 0),
        _obs_row("KATL", 1, temperature_value=1.5),  # ≤2°C → snow heuristic
        _obs_row("KBOS", 0, wind_speed=600),  # out of range → filtered
        _obs_row("KBOS", 1, wind_direction=400),  # out of range → filtered
        _obs_row("KSEA", 0, temperature_value=None, dewpoint_value=None),
        # offset-bearing RFC3339: instant 2026-01-17T02:00Z rendered as
        # 2026-01-16T22:00:00-04:00 → wall-clock day bucket (01-16) differs
        # from the UTC day (01-17), exercising the ::TIMESTAMP drop-offset
        # bucketing. Placed mid-window so DuckDB's varchar filter pushdown
        # (see test_duckdb_string_pushdown_divergence) agrees with instant
        # semantics on the range predicates.
        _obs_row("KSEA", 1, generated_at=rfc(D0 + timedelta(hours=50), -4)),
    ]
    new_rows = [
        _obs_row(
            "KATL", 24, precip_in=0.25, precip_unit_code="inches", wx_string=""
        ),
        _obs_row(
            "KATL",
            25,
            temperature_value=-1.0,
            precip_in=0.10,
            precip_unit_code="inches",
            wx_string="SN",  # snow code
        ),
        _obs_row(
            "KBOS",
            24,
            precip_in=0.05,
            precip_unit_code="inches",
            wx_string="FZRA BR",  # ice code
        ),
        _obs_row(
            "KBOS",
            26,
            precip_in=0.30,
            precip_unit_code="inches",
            wx_string="-RA",  # rain
        ),
        _obs_row(
            "KDEN",
            25,
            temperature_value=0.5,
            precip_in=0.2,
            precip_unit_code="inches",
            wx_string=None,  # NULL wx + cold → snow heuristic
        ),
        _obs_row("KJFK", 24, dewpoint_value=None),  # Magnus guard (one side)
        _obs_row("KJFK", 25, precip_in=-0.5, wx_string=""),  # negative → filtered
    ]
    p_old = os.path.join(
        data_dir, "2026-01-15", "observations_2026-01-15T06_00_00+00_00.parquet"
    )
    p_new = os.path.join(
        data_dir, "2026-01-16", "observations_2026-01-16T06_00_00+00_00.parquet"
    )
    _write(p_old, old_rows, OBS_OLD_FIELDS)
    _write(p_new, new_rows, OBS_NEW_FIELDS)
    return [p_old, p_new]


def _fc_row(station, gen_h, beg_h, dur_h, **kw):
    beg = D0 + timedelta(hours=beg_h)
    base = {
        "station_id": station,
        "station_name": f"{station} Intl",
        "latitude": 33.6,
        "longitude": -84.4,
        "generated_at": rfc(D0 + timedelta(hours=gen_h)),
        "begin_time": rfc(beg),
        "end_time": rfc(beg + timedelta(hours=dur_h)),
        "max_temp": 40,
        "min_temp": 20,
        "temperature_unit_code": "fahrenheit",
        "wind_speed": 12,
        "wind_speed_unit_code": "knots",
        "wind_direction": 200,
        "wind_direction_unit_code": "degrees true",
        "relative_humidity_max": 90,
        "relative_humidity_min": 40,
        "relative_humidity_unit_code": "percent",
        "liquid_precipitation_amt": None,
        "liquid_precipitation_unit_code": "inches",
        "twelve_hour_probability_of_precipitation": 30,
        "twelve_hour_probability_of_precipitation_unit_code": "percent",
        "state": "GA",
        "iata_id": station[1:],
        "elevation_m": 300.0,
    }
    base.update(kw)
    return base


def write_forecast_fixtures(data_dir: str) -> list[str]:
    """Old-schema file (no snow/ice cols) + two new-schema files whose
    (station, window) rows overlap at different generated_at."""
    # --- old-schema file: KATL day-15 QPF at chained 6h windows + stray 12h
    old_rows = [
        _fc_row("KATL", 0, 0, 6, liquid_precipitation_amt=0.10),
        _fc_row("KATL", 0, 6, 6, liquid_precipitation_amt=0.20),
        _fc_row("KATL", 0, 12, 6, liquid_precipitation_amt=0.05),
        _fc_row("KATL", 0, 18, 6, liquid_precipitation_amt=0.15),
        # 12h duration rows, non-chained (gap) → lower chain ratio
        _fc_row("KATL", 0, 0, 12, liquid_precipitation_amt=0.30),
        _fc_row("KATL", 0, 14, 12, liquid_precipitation_amt=0.40),
        # out-of-range sanity row on a unique window → survives dedup,
        # every quantity filtered out by the range FILTERs
        _fc_row("KATL", 0, 20, 12, max_temp=500, min_temp=-500,
                wind_speed=900, wind_direction=800, relative_humidity_max=150),
        # stale duplicate of the 0-6h window (older generated_at, wild qpf)
        # → must be dropped by latest-wins dedup
        _fc_row("KATL", -1, 0, 6, liquid_precipitation_amt=9.99),
    ]
    # --- new file 1 (gen hour 1): snow/ice stations
    new1_rows = [
        # KBOS: snow at chained 6h with ratio; snow-only station
        _fc_row("KBOS", 1, 24, 6, snow_amt=1.0, snow_ratio=10.0),
        _fc_row("KBOS", 1, 30, 6, snow_amt=2.0, snow_ratio=0.0),  # ratio 0 → NULLIF branch
        _fc_row("KBOS", 1, 36, 6, snow_amt=0.5, snow_ratio=None),
        # KSEA: ice-only station, single row that day → fallback MIN duration
        _fc_row("KSEA", 1, 24, 6, ice_amt=0.2),
        # KDEN: qpf + snow + ice mixed; qpf-snow/ratio-ice goes negative → clamp
        _fc_row("KDEN", 1, 24, 6, liquid_precipitation_amt=0.10,
                snow_amt=5.0, snow_ratio=5.0, ice_amt=0.3),
        _fc_row("KDEN", 1, 30, 6, liquid_precipitation_amt=0.20,
                snow_amt=1.0, snow_ratio=5.0, ice_amt=0.1),
    ]
    # --- new file 2 (gen hour 3): re-forecast of KATL window 0-6 (latest wins)
    #     + same instant expressed in -05:00 offset (UTC-normalized dedup)
    new2_rows = [
        _fc_row("KATL", 3, 0, 6, liquid_precipitation_amt=0.12, max_temp=45),
        _fc_row(
            "KATL", 3, 6, 6,
            begin_time=rfc(D0 + timedelta(hours=6), -5),
            end_time=rfc(D0 + timedelta(hours=12), -5),
            liquid_precipitation_amt=0.22,
        ),
        _fc_row("KJFK", 3, 24, 3, liquid_precipitation_amt=0.07),
        _fc_row("KJFK", 3, 27, 3, liquid_precipitation_amt=0.08),
        _fc_row("KJFK", 3, 30, 3, liquid_precipitation_amt=0.09),
    ]
    p_old = os.path.join(
        data_dir, "2026-01-15", "forecasts_2026-01-15T00_30_00+00_00.parquet"
    )
    p1 = os.path.join(
        data_dir, "2026-01-15", "forecasts_2026-01-15T01_30_00+00_00.parquet"
    )
    p2 = os.path.join(
        data_dir, "2026-01-15", "forecasts_2026-01-15T03_30_00+00_00.parquet"
    )
    _write(p_old, old_rows, FCST_OLD_FIELDS)
    _write(p1, new1_rows, FCST_NEW_FIELDS)
    _write(p2, new2_rows, FCST_NEW_FIELDS)
    return [p_old, p1, p2]


# ---------------------------------------------------------------------------
# seeded multi-station forecast mix
# ---------------------------------------------------------------------------

MIX_D0 = datetime(2026, 2, 10, tzinfo=UTC)
MIX_STATIONS = [f"KM{i:02d}" for i in range(24)]
#: (generated hour after MIX_D0, columns): the first snapshot is an old
#: 23-column file (no snow/ice columns, no elevation_m). A generated range
#: ending at MIX_D0 keeps all but the last; request edges fall on
#: midnights, where DuckDB's text comparison of RFC3339 strings (see
#: test_duckdb_string_pushdown_divergence) agrees with instant order.
MIX_SNAPSHOTS = ((-20, 23), (-4, 30), (5, 30))
_MIX_23_FIELDS = [f for f in FCST_OLD_FIELDS if f[0] != "elevation_m"]


def _mix_windows(rng, station_idx: int) -> list[tuple[int, int]]:
    """(begin hour, duration h) windows of one station in one snapshot over
    three days. Station patterns by index: chained 6 h days beside gapped
    12 h rows (the chain ratio decides), single rows at 6/12/24 h (no
    duration has two rows: the shortest-duration fallback decides), and a
    random broken mix of 3/6/12/24 h grid windows."""
    out = set()
    for day in range(3):
        h0 = 24 * day
        kind = station_idx % 3
        if kind == 0:
            out |= {(h0 + h, 6) for h in range(0, 24, 6) if rng.random() < 0.85}
            out |= {(h0 + h, 12) for h in (0, 14) if rng.random() < 0.7}
            out |= {(h0 + h, 3) for h in (0, 3, 9, 12) if rng.random() < 0.5}
        elif kind == 1:
            out |= {(h0 + rng.choice((0, 6, 12)), 6), (h0 + 12, 12), (h0, 24)}
        else:
            for dur in (3, 6, 12, 24):
                out |= {(h0 + h, dur) for h in range(0, 24, dur)
                        if rng.random() < 0.45}
    return sorted(out)


def _mix_row(rng, station: str, gen_h: int, beg_h: int, dur_h: int) -> dict:
    def maybe(p, value):
        return None if rng.random() < p else value

    def wild(p, value, bad):
        return bad if rng.random() < p else value

    beg = MIX_D0 + timedelta(hours=beg_h)
    # a -05:00 rendering of the same instants, away from every request
    # window's edges (DuckDB compares such strings as text)
    offset = -5 if beg_h % 24 == 12 and rng.random() < 0.3 else 0
    qpf = maybe(0.35, wild(0.1, round(rng.random() * 0.5, 2), -0.2))
    return _fc_row(
        station, gen_h, beg_h, dur_h,
        generated_at=rfc(MIX_D0 + timedelta(hours=gen_h)),
        temperature_unit_code=(
            "celcius" if int(station[2:]) % 4 == 3 else "fahrenheit"),
        begin_time=rfc(beg, offset),
        end_time=rfc(beg + timedelta(hours=dur_h), offset),
        max_temp=maybe(0.05, wild(0.08, rng.randint(40, 90), 250)),
        min_temp=maybe(0.05, wild(0.08, rng.randint(0, 39), -300)),
        wind_speed=maybe(0.1, wild(0.08, rng.randint(0, 40), 700)),
        wind_direction=maybe(0.1, wild(0.08, rng.randint(0, 360), 400)),
        relative_humidity_max=maybe(0.1, wild(0.08, rng.randint(50, 100), 120)),
        relative_humidity_min=maybe(0.1, wild(0.08, rng.randint(0, 49), -5)),
        twelve_hour_probability_of_precipitation=maybe(0.3, rng.randint(0, 100)),
        liquid_precipitation_amt=qpf,
        snow_amt=maybe(0.6, wild(0.1, round(rng.random() * 2, 2), -1.0)),
        snow_ratio=maybe(0.3, rng.choice((0.0, 5.0, 8.5, 12.0))),
        ice_amt=maybe(0.7, round(rng.random() * 0.2, 2)),
    )


def write_forecast_mix(data_dir: str, seed: int) -> list[str]:
    """Three forecast snapshots of `MIX_STATIONS` whose windows overlap
    (the latest generated_at wins), with mixed 3/6/12/24 h durations and
    broken chains, NULL precip fields, out-of-range temperatures, wind and
    humidities, and one old 23-column file."""
    rng = random.Random(seed)
    paths = []
    for gen_h, n_cols in MIX_SNAPSHOTS:
        rows = [
            _mix_row(rng, station, gen_h, beg_h, dur_h)
            for i, station in enumerate(MIX_STATIONS)
            for beg_h, dur_h in _mix_windows(rng, i)
        ]
        at = MIX_D0 + timedelta(hours=gen_h, minutes=30)
        path = os.path.join(
            data_dir, at.date().isoformat(),
            f"forecasts_{at.strftime('%Y-%m-%dT%H_%M_%S')}+00_00.parquet",
        )
        _write(path, rows, _MIX_23_FIELDS if n_cols == 23 else FCST_NEW_FIELDS)
        paths.append(path)
    return paths
