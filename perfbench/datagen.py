"""Seeded, reference-shaped inputs for the benchmark.

One call to `ensure_store(root, seed)` yields a snapshot store laid out the
way the daemon writes it (`{date}/{kind}_{ts}.parquet`):

- `N_STATIONS` stations with 2-decimal lat/lon (the daemon matches NDFD
  points to stations on that key);
- one observation file per hour for `OBS_HOURS` hours; the first day is
  written with the 16-column pre-precipitation schema;
- one forecast snapshot per day (`FC_EVERY_H`), each 7 days x 15 windows
  per station (~262 k rows, the reference's scale); the first is written
  with 23 columns and the second with 24, so the reader's NULL-fill schema
  reconciliation runs on every forecast request that spans them.

Stores are cached under the root by (seed, size, layout version) and only
a few are kept. `metar_xml` and `dwml_xml` produce the synthetic NOAA
documents the daemon ingests, so no network access is needed.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

UTC = timezone.utc
LAYOUT_VERSION = 2
N_STATIONS = 2500
OBS_HOURS = 72
OLD_OBS_HOURS = 24
FC_EVERY_H = 24
FC_DAYS = 7
# (hour of day, duration h): 8x3h + 4x6h + 2x12h + 1x24h = 15 windows/day
FC_WINDOWS = (
    [(h, 3) for h in range(0, 24, 3)]
    + [(h, 6) for h in range(0, 24, 6)]
    + [(0, 12), (12, 12), (0, 24)]
)
D0 = datetime(2026, 1, 10, tzinfo=UTC)
KEEP_STORES = 3
STATES = np.array(["GA", "TX", "CA", "NY", "IL", "WA", "CO", "FL", "MN", "AZ"])
WX_POOL = np.array(["", "", "", "", "RA", "-RA BR", "SN", "FZRA", "BLSN", "GR"])

def rfc(dt: datetime) -> str:
    return dt.astimezone(UTC).strftime("%Y-%m-%dT%H:%M:%S+00:00")


def snapshot_relpath(kind: str, ts: datetime) -> str:
    """Same layout as sources.catalog.snapshot_path, spelled out here so the
    benchmark checks the catalog instead of reusing it."""
    return os.path.join(
        ts.strftime("%Y-%m-%d"),
        f"{kind}_{ts.strftime('%Y-%m-%dT%H_%M_%S+00_00')}.parquet",
    )


def obs_hours() -> list[datetime]:
    return [D0 + timedelta(hours=h) for h in range(OBS_HOURS)]


def fc_hours() -> list[datetime]:
    return [D0 + timedelta(hours=h) for h in range(0, OBS_HOURS, FC_EVERY_H)]


def data_end() -> datetime:
    """The last observation hour of a fresh store: the UI's 'now'."""
    return D0 + timedelta(hours=OBS_HOURS - 1)


class Stations:
    """The station registry, a pure function of the seed."""

    def __init__(self, seed: int):
        n = N_STATIONS
        rng = np.random.default_rng([seed, 1])
        letters = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"))
        idx = np.arange(n)
        self.ids = np.array(
            ["K" + "".join(letters[[i // 676 % 26, i // 26 % 26, i % 26]])
             for i in idx]
        )
        # unique 2-decimal coordinates: a jittered grid
        grid = rng.permutation(n)
        self.lat = np.round(25.0 + (grid // 100) * 0.9 + rng.integers(0, 80, n) / 100, 2)
        self.lon = np.round(-124.0 + (grid % 100) * 0.55 + rng.integers(0, 50, n) / 100, 2)
        self.elev = np.round(rng.uniform(0, 2000, n), 1)
        self.state = STATES[rng.integers(0, len(STATES), n)]
        self.name = np.char.add("Station ", self.ids)
        self.iata = np.array([s[1:] for s in self.ids])
        # per-station climate so reads and scores are not uniform noise
        self.base_temp = rng.uniform(-10, 25, n)
        every = np.arange(n)
        self.ids_col = _dict(self.ids, every)
        self.name_col = _dict(self.name, every)
        self.state_col = _dict(self.state, every)
        self.iata_col = _dict(self.iata, every)

    def meta(self, i: int) -> dict:
        return {
            "station_name": str(self.name[i]),
            "state": str(self.state[i]),
            "iata_id": str(self.iata[i]),
            "elevation_m": float(self.elev[i]),
            "latitude": float(self.lat[i]),
            "longitude": float(self.lon[i]),
        }


def _masked(rng, values: np.ndarray, null_p: float, typ) -> pa.Array:
    mask = rng.random(len(values)) < null_p
    return pa.array(values, type=typ, mask=mask)


def _dict(values, idx: np.ndarray) -> pa.DictionaryArray:
    """values[idx] as a dictionary-encoded string column (cheap to build;
    parquet stores it as an ordinary string column)."""
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, type=pa.int32()), pa.array(list(map(str, values)))
    )


def _const(value: str, n: int) -> pa.DictionaryArray:
    return _dict([value], np.zeros(n, dtype=np.int32))


def _write(path: str, cols: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    pq.write_table(pa.table(cols), tmp, store_schema=False)
    os.replace(tmp, path)


def _obs_table(st: Stations, rng, ts: datetime, old: bool) -> dict:
    n = len(st.ids)
    hour = ts.hour + (ts - D0).days * 24
    temp = st.base_temp + 8 * np.sin((hour % 24) / 24 * 2 * np.pi) + rng.normal(0, 2, n)
    temp = np.round(temp, 1)
    cols = {
        "station_id": st.ids_col,
        "station_name": st.name_col,
        "latitude": pa.array(st.lat),
        "longitude": pa.array(st.lon),
        "generated_at": _const(rfc(ts), n),
        "temperature_value": _masked(rng, temp, 0.04, pa.float64()),
        "temperature_unit_code": _const("celcius", n),
        "wind_direction": _masked(rng, rng.integers(0, 361, n), 0.1, pa.int64()),
        "wind_direction_unit_code": _const("degrees true", n),
        "wind_speed": _masked(rng, rng.integers(0, 40, n), 0.1, pa.int64()),
        "wind_speed_unit_code": _const("knots", n),
        "dewpoint_value": pa.array(np.round(temp - rng.uniform(0, 8, n), 1)),
        "dewpoint_unit_code": _const("celcius", n),
        "state": st.state_col,
        "iata_id": st.iata_col,
        "elevation_m": pa.array(st.elev),
    }
    if not old:
        cols["precip_in"] = _masked(
            rng, np.round(rng.random(n) * 0.3, 2), 0.7, pa.float64()
        )
        cols["precip_unit_code"] = _const("inches", n)
        cols["wx_string"] = _dict(WX_POOL, rng.integers(0, len(WX_POOL), n))
    return cols


def _fc_table(st: Stations, rng, gen: datetime, n_cols: int) -> dict:
    n_st = len(st.ids)
    day0 = gen.replace(hour=0)
    slots = [(d, h, u) for d in range(FC_DAYS) for (h, u) in FC_WINDOWS]
    per = len(slots)
    n = n_st * per
    begins = [rfc(day0 + timedelta(days=d, hours=h)) for d, h, _ in slots]
    ends = [rfc(day0 + timedelta(days=d, hours=h + u)) for d, h, u in slots]
    base = np.repeat(st.base_temp * 9 / 5 + 32, per)
    station = np.repeat(np.arange(n_st), per)
    slot = np.tile(np.arange(per), n_st)
    cols = {
        "station_id": _dict(st.ids, station),
        "station_name": _dict(st.name, station),
        "latitude": pa.array(st.lat[station]),
        "longitude": pa.array(st.lon[station]),
        "generated_at": _const(rfc(gen), n),
        "begin_time": _dict(begins, slot),
        "end_time": _dict(ends, slot),
        "max_temp": _masked(rng, (base + rng.integers(0, 15, n)).astype(np.int64), 0.05, pa.int64()),
        "min_temp": _masked(rng, (base - rng.integers(0, 15, n)).astype(np.int64), 0.05, pa.int64()),
        "temperature_unit_code": _const("Fahrenheit", n),
        "wind_speed": _masked(rng, rng.integers(0, 40, n), 0.1, pa.int64()),
        "wind_speed_unit_code": _const("knots", n),
        "wind_direction": _masked(rng, rng.integers(0, 361, n), 0.1, pa.int64()),
        "wind_direction_unit_code": _const("degrees true", n),
        "relative_humidity_max": _masked(rng, rng.integers(40, 101, n), 0.1, pa.int64()),
        "relative_humidity_min": _masked(rng, rng.integers(0, 60, n), 0.1, pa.int64()),
        "relative_humidity_unit_code": _const("percent", n),
        "liquid_precipitation_amt": _masked(rng, np.round(rng.random(n) * 0.5, 2), 0.6, pa.float64()),
        "liquid_precipitation_unit_code": _const("inches", n),
        "twelve_hour_probability_of_precipitation": _masked(rng, rng.integers(0, 101, n), 0.3, pa.int64()),
        "twelve_hour_probability_of_precipitation_unit_code": _const("percent", n),
        "state": _dict(st.state, station),
        "iata_id": _dict(st.iata, station),
        "elevation_m": pa.array(st.elev[station]),
    }
    if n_cols == 23:
        del cols["elevation_m"]
    if n_cols == 30:
        cols.update(
            {
                "snow_amt": _masked(rng, np.round(rng.random(n) * 2, 2), 0.8, pa.float64()),
                "snow_amt_unit_code": _const("inches", n),
                "snow_ratio": _masked(rng, np.round(rng.uniform(5, 15, n), 1), 0.8, pa.float64()),
                "snow_ratio_unit_code": _const("ratio", n),
                "ice_amt": _masked(rng, np.round(rng.random(n) * 0.2, 2), 0.9, pa.float64()),
                "ice_amt_unit_code": _const("inches", n),
            }
        )
    return cols


def store_key(seed: int) -> str:
    return f"store_s{seed}_n{N_STATIONS}_v{LAYOUT_VERSION}"


def _evict(root: str, keep: str) -> None:
    stores = [
        os.path.join(root, d) for d in os.listdir(root)
        if d.startswith("store_") and d != keep
    ]
    stores.sort(key=os.path.getmtime)
    for old in stores[: max(0, len(stores) - (KEEP_STORES - 1))]:
        shutil.rmtree(old, ignore_errors=True)


def ensure_store(root: str, seed: int) -> tuple[str, dict]:
    """Return (store dir, manifest), generating the store on a cache miss.
    The manifest lists every file with its kind, timestamp and column count
    and records the generation time."""
    os.makedirs(root, exist_ok=True)
    key = store_key(seed)
    out = os.path.join(root, key)
    man_path = os.path.join(out, "_manifest.json")
    if os.path.exists(man_path):
        os.utime(out)
        with open(man_path) as f:
            return out, json.load(f)
    _evict(root, key)
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.perf_counter()
    st = Stations(seed)
    rng = np.random.default_rng([seed, 2])
    files = []
    for i, ts in enumerate(obs_hours()):
        old = i < OLD_OBS_HOURS
        rel = snapshot_relpath("observations", ts)
        _write(os.path.join(out, rel), _obs_table(st, rng, ts, old))
        files.append({"path": rel, "kind": "observations", "ts": rfc(ts),
                      "columns": 16 if old else 19})
    for i, gen in enumerate(fc_hours()):
        n_cols = 23 if i == 0 else 24 if i == 1 else 30
        rel = snapshot_relpath("forecasts", gen)
        _write(os.path.join(out, rel), _fc_table(st, rng, gen, n_cols))
        files.append({"path": rel, "kind": "forecasts", "ts": rfc(gen),
                      "columns": n_cols})
    size = sum(
        os.path.getsize(os.path.join(out, f["path"])) for f in files
    )
    manifest = {
        "seed": seed,
        "stations": N_STATIONS,
        "layout_version": LAYOUT_VERSION,
        "files": files,
        "bytes": size,
        "generate_s": time.perf_counter() - t0,
    }
    with open(man_path, "w") as f:
        json.dump(manifest, f)
    return out, manifest


# ---------------------------------------------------------------------------
# synthetic NOAA documents for the daemon
# ---------------------------------------------------------------------------


def metar_xml(st: Stations, idx: list[int], ts: datetime, seed: int) -> str:
    rng = np.random.default_rng([seed, 3, int(ts.timestamp())])
    parts = ['<?xml version="1.0"?>\n<response>\n<data>']
    for i in idx:
        t = round(float(st.base_temp[i] + rng.normal(0, 3)), 1)
        wx = WX_POOL[rng.integers(0, len(WX_POOL))]
        parts.append(
            "<METAR>"
            f"<station_id>{st.ids[i]}</station_id>"
            f"<observation_time>{ts.strftime('%Y-%m-%dT%H:%M:%SZ')}</observation_time>"
            f"<latitude>{st.lat[i]}</latitude><longitude>{st.lon[i]}</longitude>"
            f"<temp_c>{t}</temp_c><dewpoint_c>{round(t - 3.0, 1)}</dewpoint_c>"
            f"<wind_dir_degrees>{int(rng.integers(0, 361))}</wind_dir_degrees>"
            f"<wind_speed_kt>{int(rng.integers(0, 40))}</wind_speed_kt>"
            f"<elevation_m>{st.elev[i]}</elevation_m>"
            + (f"<wx_string>{wx}</wx_string>" if wx else "")
            + f"<precip_in>{round(float(rng.random() * 0.2), 2)}</precip_in>"
            "</METAR>"
        )
    parts.append("</data>\n</response>\n")
    return "".join(parts)


# DWML layouts: key → (hours between slots, duration h, slots over 7 days)
_DWML_LAYOUTS = {
    "k-p24h-n7-1": (24, 24, 7),
    "k-p12h-n14-2": (12, 12, 14),
    "k-p6h-n28-3": (6, 6, 28),
    "k-p3h-n56-4": (3, 3, 56),
}
# (tag, type, units, layout, low, high, decimals)
_DWML_PARAMS = [
    ("temperature", "maximum", "Fahrenheit", "k-p24h-n7-1", 20, 95, 0),
    ("temperature", "minimum", "Fahrenheit", "k-p24h-n7-1", -5, 70, 0),
    ("wind-speed", "sustained", "knots", "k-p3h-n56-4", 0, 35, 0),
    ("direction", "wind", "degrees true", "k-p3h-n56-4", 0, 360, 0),
    ("probability-of-precipitation", "12 hour", "percent", "k-p12h-n14-2", 0, 100, 0),
    ("precipitation", "liquid", "inches", "k-p6h-n28-3", 0, 0.5, 2),
    ("precipitation", "snow", "inches", "k-p6h-n28-3", 0, 1.5, 2),
    ("humidity", "maximum relative", "percent", "k-p24h-n7-1", 50, 100, 0),
    ("humidity", "minimum relative", "percent", "k-p24h-n7-1", 5, 50, 0),
]


def dwml_xml(st: Stations, idx: list[int], now: datetime, seed: int) -> str:
    """One NDFD time-series document for a batch of stations, generated at
    `now` (rounded to the hour) with a 7-day horizon."""
    rng = np.random.default_rng([seed, 4, int(now.timestamp()), idx[0]])
    t0 = now.replace(minute=0, second=0, microsecond=0)
    day0 = t0.replace(hour=0)
    fmt = "%Y-%m-%dT%H:%M:%S+00:00"
    out = [
        '<?xml version="1.0"?>\n<dwml><head><product><creation-date>'
        f"{t0.strftime('%Y-%m-%dT%H:%M:%SZ')}</creation-date></product></head><data>"
    ]
    for j, i in enumerate(idx):
        out.append(
            f"<location><location-key>point{j + 1}</location-key>"
            f'<point latitude="{st.lat[i]:.2f}" longitude="{st.lon[i]:.2f}"/>'
            "</location>"
        )
    for key, (step, dur, n) in _DWML_LAYOUTS.items():
        out.append(f"<time-layout><layout-key>{key}</layout-key>")
        for k in range(n):
            b = day0 + timedelta(hours=k * step)
            out.append(
                f"<start-valid-time>{b.strftime(fmt)}</start-valid-time>"
                f"<end-valid-time>{(b + timedelta(hours=dur)).strftime(fmt)}"
                "</end-valid-time>"
            )
        out.append("</time-layout>")
    for j, _i in enumerate(idx):
        out.append(f'<parameters applicable-location="point{j + 1}">')
        for tag, typ, units, layout, lo, hi, dec in _DWML_PARAMS:
            n = _DWML_LAYOUTS[layout][2]
            vals = np.round(rng.uniform(lo, hi, n), dec)
            body = "".join(
                f"<value>{int(v) if dec == 0 else v}</value>" for v in vals
            )
            out.append(
                f'<{tag} type="{typ}" units="{units}" time-layout="{layout}">'
                f"{body}</{tag}>"
            )
        out.append("</parameters>")
    out.append("</data></dwml>")
    return "".join(out)
