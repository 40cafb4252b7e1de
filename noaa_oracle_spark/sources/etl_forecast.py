"""DWML flattening on the driver (X5/W3/D4/J9 — daemon parity).

Reference pipeline (crates/daemon/src/domains/forecasts/download_forecast.rs):
  - time-layout slots → TimeRanges; missing end = next start in the same
    layout, else +3 h (estimate_end_time :807-826)
  - grid = ranges deduplicated as UTC instants across layouts — the
    cross-timezone duplicate drop (:420-460, D4)
  - per parameter: containing-interval match with carry-forward for
    instantaneous fields; STRICT exact-interval match, no carry, for
    accumulative precip (add_data :622-805, get_interval :828-:914)
  - NDFD locations matched to the station registry by 2-decimal
    lat/lon equality (:1186-1218, J9)

Like the reference, this runs in process on one NDFD document at a time:
the ~10k readings of a 50-station document are already on the driver
after the parse, so a Spark plan would add only jobs. Each document is
flattened on its own because every document names its points
point1…pointN — location keys are unique only within one document.
"""

from __future__ import annotations

from collections.abc import Mapping
from datetime import datetime, timedelta, timezone

import pyarrow as pa

from noaa_oracle_spark.schemas import FORECASTS_SCHEMA, arrow_table

# DWML param → output column (value, unit). Mirrors the WeatherForecast
# row assembly in download_forecast.rs.
PARAM_COLUMNS = {
    "temperature/maximum": ("max_temp", "temperature_unit_code", "long"),
    "temperature/minimum": ("min_temp", "temperature_unit_code", "long"),
    "wind-speed/sustained": ("wind_speed", "wind_speed_unit_code", "long"),
    "direction/wind": ("wind_direction", "wind_direction_unit_code", "long"),
    "humidity/maximum relative": (
        "relative_humidity_max", "relative_humidity_unit_code", "long"),
    "humidity/minimum relative": (
        "relative_humidity_min", "relative_humidity_unit_code", "long"),
    "probability-of-precipitation/12 hour": (
        "twelve_hour_probability_of_precipitation",
        "twelve_hour_probability_of_precipitation_unit_code", "long"),
    "precipitation/liquid": (
        "liquid_precipitation_amt", "liquid_precipitation_unit_code", "double"),
    "precipitation/snow": ("snow_amt", "snow_amt_unit_code", "double"),
    "precipitation/ice": ("ice_amt", "ice_amt_unit_code", "double"),
    "winter-weather-outlook/snow ratio": (
        "snow_ratio", "snow_ratio_unit_code", "double"),
}

ACCUMULATIVE = {
    "precipitation/liquid", "precipitation/snow", "precipitation/ice",
}

# accumulative fields are never carried (download_forecast.rs:636-647)
_CARRIED = {
    v for p, (v, _, _) in PARAM_COLUMNS.items() if p not in ACCUMULATIVE
}
_CAST = {"long": int, "double": float}
_THREE_HOURS = timedelta(hours=3)


class _Instants(dict):
    """RFC3339 string → UTC datetime, parsed once per distinct string.
    A string without an offset is UTC, as in the engine's UTC session."""

    def __missing__(self, s: str) -> datetime:
        t = datetime.fromisoformat(s)
        t = t.replace(tzinfo=timezone.utc) if t.tzinfo is None else t
        self[s] = t = t.astimezone(timezone.utc)
        return t


def _estimated_ends(readings: list[tuple], instant: _Instants) -> dict:
    """estimate_end_time: (location, layout, begin string) → (end instant,
    had an end). A missing end is the next start in the same (location,
    layout), else begin + 3 h — over distinct slots, since several
    parameters share one layout."""
    slots: dict[tuple, dict[str, str | None]] = {}
    for lk, _s, _la, _lo, _p, layout, begin, end, *_ in readings:
        slots.setdefault((lk, layout), {}).setdefault(begin, end)
    ends = {}
    for (lk, layout), by_begin in slots.items():
        ordered = sorted(by_begin.items(), key=lambda kv: instant[kv[0]])
        for i, (begin, end) in enumerate(ordered):
            if end is not None:
                e = instant[end]
            elif i + 1 < len(ordered):
                e = instant[ordered[i + 1][0]]
            else:
                e = instant[begin] + _THREE_HOURS
            ends[(lk, layout, begin)] = (e, end is not None)
    return ends


def _best(cands: list[tuple], b: datetime, e: datetime, accumulative: bool):
    """get_interval priority for one grid window: an exact (begin, end)
    match, then a begin-only match (a reading with no end of its own),
    then — instantaneous fields only — the reading containing the
    window's begin. Ties go to the earliest reading, then to document
    order. `cands` is sorted by begin: (begin, end, had_end, value,
    units)."""
    best, rank = None, 4
    for c in cands:
        cb, ce, had_end = c[0], c[1], c[2]
        if cb > b:
            break
        if cb == b and had_end and ce == e:
            return c
        if cb == b and not had_end:
            if rank > 2:
                best, rank = c, 2
        elif not accumulative and rank > 3 and b < ce:
            best, rank = c, 3
    return best


def _station_index(stations: Mapping[str, Mapping]) -> dict:
    """(2-dp lat, 2-dp lon) → the registry stations at that key."""
    index: dict[tuple[str, str], list[tuple]] = {}
    for sid, m in stations.items():
        elev = m.get("elevation_m")
        key = (f"{float(m['latitude']):.2f}", f"{float(m['longitude']):.2f}")
        index.setdefault(key, []).append((
            sid,
            m.get("station_name") or "",
            m.get("state") or "",
            m.get("iata_id") or "",
            float(elev) if elev is not None else None,
        ))
    return index


def flatten_dwml(
    readings: list[tuple], stations: Mapping[str, Mapping]
) -> pa.Table:
    """One document's readings (xml_ingest.dwml_to_readings) → canonical
    forecast rows, as an Arrow table in FORECASTS_SCHEMA.

    One row per (location, UTC-distinct time window, matching station),
    with parameter values matched per the reference's interval rules and
    instantaneous fields carried forward per location in (begin, end)
    order. A location takes its station from the DWML's station-id, else
    from the registry stations at its 2-decimal coordinates (J9, a left
    join: every station at the key gets the row); a location with
    neither is dropped."""
    instant = _Instants()
    ends = _estimated_ends(readings, instant)

    # per location: its attributes, its UTC grid (D4) and, per parameter,
    # its readings as (begin, end, had_end, value, units)
    meta: dict[str, tuple] = {}
    grid: dict[str, set] = {}
    by_param: dict[tuple[str, str], list[tuple]] = {}
    for (lk, sid, lat, lon, param, layout, begin, _end, value, units,
         generated_at) in readings:
        b = instant[begin]
        e, had_end = ends[(lk, layout, begin)]
        meta.setdefault(lk, (sid, lat, lon, generated_at))
        grid.setdefault(lk, set()).add((b, e))
        by_param.setdefault((lk, param), []).append(
            (b, e, had_end, value, units))
    for cands in by_param.values():
        cands.sort(key=lambda c: c[0])  # stable: document order on ties

    by_key = _station_index(stations)
    columns = [f.name for f in FORECASTS_SCHEMA.fields]
    rows = []
    for lk, (sid, lat, lon, generated_at) in meta.items():
        key = None if lat is None or lon is None else (
            f"{lat:.2f}", f"{lon:.2f}")
        matches = by_key.get(key) or (
            [(sid, "", "", "", None)] if sid is not None else [])
        if not matches:
            continue
        last: dict[str, object] = {}
        for b, e in sorted(grid[lk]):
            row: dict[str, object] = {}
            for param, (vcol, ucol, typ) in PARAM_COLUMNS.items():
                c = _best(by_param.get((lk, param), ()), b, e,
                          param in ACCUMULATIVE)
                value = None
                if c is not None:
                    if c[3] is not None:
                        value = _CAST[typ](c[3])
                    if row.get(ucol) is None:  # first in PARAM_COLUMNS
                        row[ucol] = c[4]
                if vcol in _CARRIED:  # W3: carry the last non-NULL forward
                    value = last[vcol] = (
                        value if value is not None else last.get(vcol))
                row[vcol] = value
            row.update(
                latitude=lat,
                longitude=lon,
                generated_at=generated_at,
                begin_time=b.strftime("%Y-%m-%dT%H:%M:%SZ"),
                end_time=e.strftime("%Y-%m-%dT%H:%M:%SZ"),
            )
            for st_id, name, state, iata_id, elevation_m in matches:
                row.update(
                    station_id=sid if sid is not None else st_id,
                    station_name=name,
                    state=state,
                    iata_id=iata_id,
                    elevation_m=elevation_m,
                )
                rows.append(tuple(row.get(c) for c in columns))
    return arrow_table(rows, FORECASTS_SCHEMA)
