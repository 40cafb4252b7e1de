"""Correctness gate: the server's JSON rows against DuckDB running the
reference SQL (noaa_oracle_spark/reference_sql.py) over the same files.

File selection for the reference side comes from the generator's manifest
(snapshot time in [start - 1 day, end]), not from the program's catalog,
so the catalog is checked too. Rows are compared as multisets of
normalized tuples (order ignored; floats to 9 significant digits). The
handler converts temperatures to Fahrenheit by default; the reference SQL
returns storage units, so the same conversion is applied here.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta, timezone

UTC = timezone.utc


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float)):
        return f"{float(v):.9g}"
    return str(v)


def _norm_rows(rows: list[dict]) -> list[tuple]:
    return sorted(
        (tuple(sorted((k, _norm_cell(v)) for k, v in r.items())) for r in rows),
        key=repr,
    )


def _to_fahrenheit(rows: list[dict]) -> list[dict]:
    out = []
    for r in rows:
        r = dict(r)
        unit = (r.get("temperature_unit_code") or "").lower()
        if unit in ("celcius", "celsius"):
            for k in ("temp_low", "temp_high"):
                if r.get(k) is not None:
                    r[k] = r[k] * 9.0 / 5.0 + 32.0
        r["temperature_unit_code"] = "fahrenheit"
        out.append(r)
    return out


def _utc_z(dt: datetime) -> str:
    return dt.astimezone(UTC).strftime("%Y-%m-%dT%H:%M:%SZ")


def _files(store: str, manifest: dict, kind: str, start=None, end=None,
           lookback: timedelta = timedelta(days=1)) -> list[str]:
    out = []
    for f in manifest["files"]:
        if f["kind"] != kind:
            continue
        ts = datetime.fromisoformat(f["ts"])
        if start is not None and not (start - lookback <= ts <= end):
            continue
        out.append(os.path.join(store, f["path"]))
    return sorted(out)


def _duck(sql: str) -> list[dict]:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        # DuckDB 1.0's expression rewriter turns `varchar::TIMESTAMPTZ <=
        # 'literal'::TIMESTAMPTZ` into a raw string comparison against
        # '2026-01-12 23:00:00+00', which drops every RFC3339 row of the
        # window's last day (see tests/test_weather_parity.py). The gate
        # wants the reference's intent: instant comparisons.
        con.execute("SET disabled_optimizers = 'expression_rewriter'")
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        return [dict(zip(cols, row)) for row in cur.fetchall()]
    finally:
        con.close()


def expected(store: str, manifest: dict, route: str, params: dict):
    """Reference answer for one request of the gate."""
    from noaa_oracle_spark import reference_sql as ref

    if route == "/stations":
        return _duck(ref.stations_sql(_files(store, manifest, "observations")))
    if route == "/files":
        start, end = params.get("start"), params.get("end")
        names = []
        for kind in ("observations", "forecasts"):
            paths = _files(store, manifest, kind, start, end, timedelta(0))
            names.extend(os.path.basename(p) for p in paths)
        return {"file_names": sorted(names)}
    start, end = params["start"], params["end"]
    ids = set(params["station_ids"])
    s, e = _utc_z(start), _utc_z(end)
    if route in ("/stations/observations", "/stations/daily-observations"):
        paths = _files(store, manifest, "observations", start, end)
        build = (
            ref.observation_data_sql
            if route == "/stations/observations"
            else ref.daily_observations_sql
        )
        rows = _duck(build(paths, s, e))
        return _to_fahrenheit([r for r in rows if r["station_id"] in ids])
    raise ValueError(f"no reference for {route}")


def compare(route: str, got, want) -> str | None:
    """None when equal, else a one-line description of the mismatch."""
    if route == "/files":
        g = sorted(got["file_names"])
        if g != want["file_names"]:
            missing = set(want["file_names"]) - set(g)
            extra = set(g) - set(want["file_names"])
            return (f"{route}: {len(missing)} files missing, "
                    f"{len(extra)} unexpected")
        return None
    g, w = _norm_rows(got), _norm_rows(want)
    if g == w:
        return None
    diff = next((i for i, (a, b) in enumerate(zip(g, w)) if a != b), None)
    detail = f"first difference: {g[diff]} != {w[diff]}" if diff is not None else ""
    return f"{route}: {len(g)} rows vs reference {len(w)} rows {detail}"[:600]
