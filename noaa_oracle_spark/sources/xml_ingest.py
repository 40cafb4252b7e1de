"""XML ingestion: METAR observation responses and NDFD DWML forecasts.

Driver-side parse (xml.etree) → row lists, as the reference does with
serde-XML on the daemon (crates/daemon/src/domains/observations/
xml_observation.rs:5-89, forecasts/xml_forecast.rs:7-285). METAR rows
become an Arrow table in the observation schema; DWML readings go on to
etl_forecast.flatten_dwml. Network fetch/gunzip stays out of the engine
(the daemon's utils.rs fetch layer); callers hand XML strings in.

Scale note: hourly NOAA payloads are a few MB — parsing is not distributed
work, and neither is anything else the daemon does with them.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from datetime import datetime, timezone

import pyarrow as pa

from noaa_oracle_spark.schemas import OBSERVATIONS_SCHEMA, arrow_table


def _text(el, tag: str) -> str | None:
    child = el.find(tag)
    return child.text if child is not None else None


def _f(v: str | None) -> float | None:
    try:
        return float(v) if v not in (None, "") else None
    except ValueError:
        return None


def _i(v: str | None) -> int | None:
    f = _f(v)
    return int(f) if f is not None else None


def metar_to_df(
    xml_text: str,
    station_meta: dict[str, dict] | None = None,
) -> pa.Table:
    """METAR `<response><data><METAR>…` → observation rows as an Arrow
    table in OBSERVATIONS_SCHEMA (xml_observation.rs:41-77 field set; row
    struct download_observations.rs:96-118). `station_meta` optionally
    supplies station_name/state/iata_id from the station index
    (daemon/src/coordinates.rs)."""
    root = ET.fromstring(xml_text)
    rows = []
    meta = station_meta or {}
    for m in root.iter("METAR"):
        sid = _text(m, "station_id") or ""
        sm = meta.get(sid, {})
        rows.append(
            (
                sid,
                sm.get("station_name", ""),
                _f(_text(m, "latitude")),
                _f(_text(m, "longitude")),
                _text(m, "observation_time"),
                _f(_text(m, "temp_c")),
                "celcius",  # NOAA's spelling, kept for byte-parity
                _i(_text(m, "wind_dir_degrees")),
                "degrees true",
                _i(_text(m, "wind_speed_kt")),
                "knots",
                _f(_text(m, "dewpoint_c")),
                "celcius",
                sm.get("state", ""),
                sm.get("iata_id", ""),
                _f(_text(m, "elevation_m")),
                _f(_text(m, "precip_in")),
                "inches",
                _text(m, "wx_string") or "",
            )
        )
    return arrow_table(rows, OBSERVATIONS_SCHEMA)


# ---------------------------------------------------------------------------
# DWML → readings rows (input to etl_forecast.flatten_dwml)
# ---------------------------------------------------------------------------

# DWML parameter elements, each read as `{tag}/{type}`; mirrors the
# reading types of xml_forecast.rs (temperature maximum/minimum, wind-speed
# sustained, direction wind, probability-of-precipitation 12 hour,
# humidity maximum/minimum relative, precipitation liquid/snow/ice,
# winter-weather-outlook snow ratio).
_PARAM_TAGS = [
    ("temperature", "type"),
    ("precipitation", "type"),
    ("wind-speed", "type"),
    ("direction", "type"),
    ("probability-of-precipitation", "type"),
    ("humidity", "type"),
    ("winter-weather-outlook", "type"),
]

def dwml_to_readings(
    xml_text: str, now: datetime | None = None
) -> list[tuple]:
    """DWML → one row per (location, parameter, time-layout slot):
    (location_key, station_id, latitude, longitude, param, layout_key,
    begin_time, end_time, value, units, generated_at).

    Time layouts keep their per-slot begin/end strings; end estimation and
    UTC dedup happen in etl_forecast.flatten_dwml, not here — the parse is
    a flat extraction."""
    root = ET.fromstring(xml_text)
    data = root.find("data")
    if data is None:
        return []

    created = None
    head = root.find("head")
    if head is not None:
        created = head.findtext("product/creation-date")
    if not created:
        created = (
            (now or datetime.now(timezone.utc))
            .strftime("%Y-%m-%dT%H:%M:%SZ")
        )

    layouts: dict[str, list[tuple[str, str | None]]] = {}
    for tl in data.findall("time-layout"):
        key = tl.findtext("layout-key")
        starts = [e.text for e in tl.findall("start-valid-time")]
        ends = [e.text for e in tl.findall("end-valid-time")]
        slots = [
            (s, ends[i] if i < len(ends) else None)
            for i, s in enumerate(starts)
        ]
        layouts[key] = slots

    locations = {}
    for loc in data.findall("location"):
        lk = loc.findtext("location-key")
        point = loc.find("point")
        lat = _f(point.get("latitude")) if point is not None else None
        lon = _f(point.get("longitude")) if point is not None else None
        sid = loc.findtext("station-id")
        locations[lk] = (sid, lat, lon)

    rows = []
    for params in data.findall("parameters"):
        lk = params.get("applicable-location")
        sid, lat, lon = locations.get(lk, (None, None, None))
        for tag, _ in _PARAM_TAGS:
            for el in params.findall(tag):
                ptype = el.get("type") or ""
                param = f"{tag}/{ptype}" if ptype else tag
                layout_key = el.get("time-layout")
                units = el.get("units") or ""
                values = [v.text for v in el.findall("value")]
                slots = layouts.get(layout_key, [])
                for i, v in enumerate(values):
                    begin, end = slots[i] if i < len(slots) else (None, None)
                    if begin is None:
                        continue
                    rows.append(
                        (
                            lk, sid, lat, lon, param, layout_key,
                            begin, end, _f(v), units, created,
                        )
                    )
    return rows
