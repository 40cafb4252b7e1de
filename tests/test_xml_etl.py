"""Daemon-parity ETL tests: METAR/DWML XML → canonical snapshot rows.

Covers S11 (XML sources), X5 (DWML flattening: end estimation, exact vs
containing matching), D4 (cross-timezone UTC window dedup), W3 (carry-
forward for instantaneous fields, never for accumulative), J9 (2-dp
coordinate station join), S6 (snapshot write) — and round-trips the result
through the catalog + daily forecast query. The landed files are pinned to
the rows, types and query answers of the Spark flatten and Spark writer
they replace.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import shutil
from datetime import datetime, timedelta, timezone

import pyarrow.parquet as pq
import pytest
from pyspark.sql.pandas.types import to_arrow_schema

from noaa_oracle_spark import service
from noaa_oracle_spark.daemon import (
    METAR_CACHE_URL,
    CollectionCycle,
    DaemonConfig,
    TokenBucket,
    XmlFetcher,
)
from noaa_oracle_spark.queries.weather import forecasts_data
from noaa_oracle_spark.schemas import (
    FORECASTS_OLD_SCHEMA,
    FORECASTS_SCHEMA,
    OBSERVATIONS_SCHEMA,
)
from noaa_oracle_spark.sources.catalog import SnapshotCatalog, snapshot_path
from noaa_oracle_spark.sources.etl_forecast import flatten_dwml
from noaa_oracle_spark.sources.reader import read_snapshots
from noaa_oracle_spark.sources.writer import write_snapshot
from noaa_oracle_spark.sources.xml_ingest import dwml_to_readings, metar_to_df

METAR_XML = """<?xml version="1.0"?>
<response>
  <data num_results="2">
    <METAR>
      <raw_text>KATL 150152Z ...</raw_text>
      <station_id>KATL</station_id>
      <observation_time>2026-01-15T01:52:00Z</observation_time>
      <latitude>33.63</latitude>
      <longitude>-84.44</longitude>
      <temp_c>12.8</temp_c>
      <dewpoint_c>7.2</dewpoint_c>
      <wind_dir_degrees>290</wind_dir_degrees>
      <wind_speed_kt>8</wind_speed_kt>
      <elevation_m>313.0</elevation_m>
      <wx_string>-RA BR</wx_string>
      <precip_in>0.02</precip_in>
    </METAR>
    <METAR>
      <raw_text>KBOS 150154Z ...</raw_text>
      <station_id>KBOS</station_id>
      <observation_time>2026-01-15T01:54:00Z</observation_time>
      <latitude>42.36</latitude>
      <longitude>-71.01</longitude>
      <temp_c>-3.0</temp_c>
      <dewpoint_c>-8.0</dewpoint_c>
      <wind_speed_kt>15</wind_speed_kt>
    </METAR>
  </data>
</response>
"""


def test_metar_ingest():
    table = metar_to_df(
        METAR_XML, station_meta={"KATL": {"state": "GA", "iata_id": "ATL"}}
    )
    rows = {r["station_id"]: r for r in table.to_pylist()}
    assert rows["KATL"]["temperature_value"] == 12.8
    assert rows["KATL"]["temperature_unit_code"] == "celcius"
    assert rows["KATL"]["wx_string"] == "-RA BR"
    assert rows["KATL"]["state"] == "GA"
    assert rows["KBOS"]["wind_direction"] is None  # absent element → NULL
    assert rows["KBOS"]["precip_in"] is None
    assert len(table.schema) == 19  # canonical observation schema


# DWML: two locations; layout k-p3h has no end times (begin-only, ends
# estimated from next start / +3h); layout k-p6h has ends, expressed in
# -05:00 for point2 but identical UTC instants (D4 dedup on the grid).
DWML_XML = """<?xml version="1.0"?>
<dwml>
  <head><product><creation-date>2026-01-15T02:00:00Z</creation-date></product></head>
  <data>
    <location>
      <location-key>point1</location-key>
      <station-id>KATL</station-id>
      <point latitude="33.63" longitude="-84.44"/>
    </location>
    <location>
      <location-key>point2</location-key>
      <point latitude="42.36" longitude="-71.01"/>
    </location>
    <time-layout>
      <layout-key>k-p3h</layout-key>
      <start-valid-time>2026-01-15T06:00:00+00:00</start-valid-time>
      <start-valid-time>2026-01-15T09:00:00+00:00</start-valid-time>
      <start-valid-time>2026-01-15T12:00:00+00:00</start-valid-time>
    </time-layout>
    <time-layout>
      <layout-key>k-p6h</layout-key>
      <start-valid-time>2026-01-15T06:00:00+00:00</start-valid-time>
      <end-valid-time>2026-01-15T12:00:00+00:00</end-valid-time>
      <start-valid-time>2026-01-15T12:00:00+00:00</start-valid-time>
      <end-valid-time>2026-01-15T18:00:00+00:00</end-valid-time>
    </time-layout>
    <time-layout>
      <layout-key>k-p6h-est</layout-key>
      <start-valid-time>2026-01-15T01:00:00-05:00</start-valid-time>
      <end-valid-time>2026-01-15T07:00:00-05:00</end-valid-time>
      <start-valid-time>2026-01-15T07:00:00-05:00</start-valid-time>
      <end-valid-time>2026-01-15T13:00:00-05:00</end-valid-time>
    </time-layout>
    <parameters applicable-location="point1">
      <temperature type="maximum" units="Fahrenheit" time-layout="k-p3h">
        <value>40</value>
        <value>45</value>
        <value></value>
      </temperature>
      <precipitation type="liquid" units="inches" time-layout="k-p6h">
        <value>0.10</value>
        <value>0.25</value>
      </precipitation>
      <wind-speed type="sustained" units="knots" time-layout="k-p3h">
        <value>10</value>
        <value>12</value>
        <value>9</value>
      </wind-speed>
    </parameters>
    <parameters applicable-location="point2">
      <temperature type="maximum" units="Fahrenheit" time-layout="k-p6h-est">
        <value>20</value>
        <value>22</value>
      </temperature>
      <precipitation type="snow" units="inches" time-layout="k-p6h-est">
        <value>1.5</value>
        <value>0.5</value>
      </precipitation>
    </parameters>
  </data>
</dwml>
"""


STATIONS = {
    "KATL": {
        "station_name": "Hartsfield",
        "state": "GA",
        "iata_id": "ATL",
        "elevation_m": 313.0,
        "latitude": 33.63,
        "longitude": -84.44,
    },
    "KBOS": {
        "station_name": "Logan",
        "state": "MA",
        "iata_id": "BOS",
        "elevation_m": 6.0,
        "latitude": 42.36,
        "longitude": -71.01,
    },
}


@pytest.fixture(scope="module")
def flattened():
    return flatten_dwml(dwml_to_readings(DWML_XML), STATIONS)


def _windows(flattened, station_id):
    return {
        (r["begin_time"], r["end_time"]): r
        for r in flattened.to_pylist() if r["station_id"] == station_id
    }


def test_dwml_grid_and_matching(flattened):
    p1 = _windows(flattened, "KATL")  # point1
    # grid windows: 3h slots 06-09, 09-12 (ends estimated from next start),
    # 12-15 (+3h fallback), plus 6h slots 06-12, 12-18 — all distinct
    assert set(p1) == {
        ("2026-01-15T06:00:00Z", "2026-01-15T09:00:00Z"),
        ("2026-01-15T09:00:00Z", "2026-01-15T12:00:00Z"),
        ("2026-01-15T12:00:00Z", "2026-01-15T15:00:00Z"),
        ("2026-01-15T06:00:00Z", "2026-01-15T12:00:00Z"),
        ("2026-01-15T12:00:00Z", "2026-01-15T18:00:00Z"),
    }
    # accumulative liquid: ONLY the exact 6h windows carry it — never the
    # contained 3h slots (strict matching, download_forecast.rs:636-647)
    assert p1[("2026-01-15T06:00:00Z", "2026-01-15T12:00:00Z")][
        "liquid_precipitation_amt"
    ] == 0.10
    assert p1[("2026-01-15T06:00:00Z", "2026-01-15T09:00:00Z")][
        "liquid_precipitation_amt"
    ] is None
    # instantaneous max_temp: begin-only match on 3h layout; empty third
    # value carried forward from the 09:00 slot (W3)
    assert p1[("2026-01-15T06:00:00Z", "2026-01-15T09:00:00Z")]["max_temp"] == 40
    assert p1[("2026-01-15T09:00:00Z", "2026-01-15T12:00:00Z")]["max_temp"] == 45
    assert p1[("2026-01-15T12:00:00Z", "2026-01-15T15:00:00Z")]["max_temp"] == 45
    # containing match: the 6h window 06-12 picks the 3h reading at 06:00
    assert p1[("2026-01-15T06:00:00Z", "2026-01-15T12:00:00Z")]["max_temp"] == 40


def test_dwml_utc_dedup(flattened):
    # point2's -05:00 layout = 06:00Z/12:00Z instants → one UTC grid window
    p2 = _windows(flattened, "KBOS")
    assert set(p2) == {
        ("2026-01-15T06:00:00Z", "2026-01-15T12:00:00Z"),
        ("2026-01-15T12:00:00Z", "2026-01-15T18:00:00Z"),
    }
    by_win = {begin: r for (begin, _end), r in p2.items()}
    assert by_win["2026-01-15T06:00:00Z"]["snow_amt"] == 1.5
    assert by_win["2026-01-15T12:00:00Z"]["snow_amt"] == 0.5


def test_station_attach_and_roundtrip(spark, flattened, tmp_path):
    got = set(flattened.column("station_id").to_pylist())
    # point2 had no station-id in the DWML — resolved via 2-dp coordinates
    assert got == {"KATL", "KBOS"}

    # S6: write as a snapshot, re-read through catalog + reader, run the
    # full forecast query over it.
    data_dir = str(tmp_path / "wx")
    ts = datetime(2026, 1, 15, 2, tzinfo=timezone.utc)
    path = write_snapshot(flattened, data_dir, "forecasts", ts)
    assert path.endswith("forecasts_2026-01-15T02_00_00+00_00.parquet")

    cat = SnapshotCatalog(data_dir)
    fc = read_snapshots(
        spark,
        cat.list_paths(
            "forecasts",
            datetime(2026, 1, 15, tzinfo=timezone.utc),
            datetime(2026, 1, 16, tzinfo=timezone.utc),
        ),
        "forecasts",
    )
    out = forecasts_data(
        fc,
        None,
        datetime(2026, 1, 15, tzinfo=timezone.utc),
        datetime(2026, 1, 16, tzinfo=timezone.utc),
        generated_start=datetime(2026, 1, 14, tzinfo=timezone.utc),
        generated_end=datetime(2026, 1, 16, tzinfo=timezone.utc),
    ).collect()
    daily = {r["station_id"]: r for r in out}
    assert daily["KATL"]["temp_high"] == 45
    assert daily["KATL"]["rain_amt"] == pytest.approx(0.35)  # 0.10 + 0.25
    assert daily["KBOS"]["snow_amt"] == pytest.approx(2.0)  # 1.5 + 0.5


# ---------------------------------------------------------------------------
# Landed files against the Spark flatten + Spark writer they replaced
# ---------------------------------------------------------------------------

T0 = datetime(2026, 1, 15, 2, tzinfo=timezone.utc)


def _land(tmp_path, transport, stations, now=T0) -> dict[str, str]:
    fetcher = XmlFetcher(TokenBucket(100, 100.0), transport=transport)
    cycle = CollectionCycle(
        None, DaemonConfig(data_dir=str(tmp_path)), fetcher, stations)
    return cycle.run_once(now)


def _fixture_transport(url, timeout, headers):
    return METAR_XML if url == METAR_CACHE_URL else DWML_XML


def _row_hash(path: str) -> tuple[int, str]:
    """(rows, sha256 of the sorted JSON rows) — blind to row order."""
    rows = pq.read_table(path).to_pylist()
    lines = sorted(json.dumps(list(r.values())) for r in rows)
    return len(rows), hashlib.sha256("\n".join(lines).encode()).hexdigest()


def _datagen():
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "perfbench", "datagen.py")
    spec = importlib.util.spec_from_file_location("perfbench_datagen", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# (forecast rows, hash), (observation rows, hash) of one landed cycle, as
# the Spark flatten (flatten_dwml_readings → attach_stations →
# to_forecast_rows) and the Spark writer landed it: the canned fixture,
# and perfbench's synthetic 50-station documents at its first ingest hour.
SPARK_LANDED = {
    "fixture": (
        (7, "0d149795cec1f5c3ac87277f5b502f22cf3645293507cba7a96d4f5a94843a22"),
        (2, "730823421351bd5f36accdeb244faf4b2570d434130a8717c4f60910327f9d28"),
    ),
    1: (
        (5250, "c64ef78bf66021926d0da117d2603c9bf20a25ddfd9b88c74a35198e5651e36e"),
        (50, "cf7e74a7683b2cc54a418636edd1af5e2ed0e6a4e4429182bc7cf450d22a8187"),
    ),
    2: (
        (5250, "ac1a562b9dcc3c30dfbab937e68e9e40659d0900a4481f751c37f7a9b0e92b80"),
        (50, "3e7b1e0d611d1d777dfaff3250fb6d4e0d0e6707ffa8744329adb60382d03595"),
    ),
    7: (
        (5250, "86e8bb4c95a740860af6050e6cec8bde043baa488f7b4e5974d763d49c13766b"),
        (50, "e7f0d05f6aa2df1bcd6f23913b2bc8791a7b632033bcb3852f5b6f79dc1aebdc"),
    ),
}


@pytest.mark.parametrize("case", list(SPARK_LANDED))
def test_landed_rows_match_the_spark_flatten(case, tmp_path):
    if case == "fixture":
        paths = _land(tmp_path, _fixture_transport, STATIONS)
    else:
        dg = _datagen()
        st, idx = dg.Stations(case), list(range(50))
        now = dg.data_end() + timedelta(hours=1)

        def transport(url, timeout, headers):
            if url == METAR_CACHE_URL:
                return dg.metar_xml(st, idx, now, case)
            return dg.dwml_xml(st, idx, now, case)

        stations = {str(st.ids[i]): st.meta(i) for i in idx}
        paths = _land(tmp_path, transport, stations, now)
    assert (_row_hash(paths["forecasts"]),
            _row_hash(paths["observations"])) == SPARK_LANDED[case]


def test_landed_files_read_as_spark_written_ones(spark, tmp_path):
    landed = _land(tmp_path / "wx", _fixture_transport, STATIONS)
    for kind, schema in (("forecasts", FORECASTS_SCHEMA),
                         ("observations", OBSERVATIONS_SCHEMA)):
        got, want = pq.read_schema(landed[kind]), to_arrow_schema(schema)
        assert got.names == want.names
        assert got.types == want.types

    # an old 23-column forecast file (no elevation_m, none of the six
    # late-added columns) beside the new one: the reader NULL-fills the
    # missing columns of the old file only
    new_table = pq.read_table(landed["forecasts"])
    old_cols = [c for c in FORECASTS_OLD_SCHEMA.names if c != "elevation_m"]
    missing = [c for c in FORECASTS_SCHEMA.names if c not in old_cols]
    old_path = snapshot_path(str(tmp_path / "wx"), "forecasts",
                             T0 - timedelta(hours=1))
    pq.write_table(new_table.select(old_cols), old_path)
    both = read_snapshots(spark, [old_path, landed["forecasts"]],
                          "forecasts", with_source_file=True).collect()
    is_old = os.path.basename(old_path)
    by_file: dict[bool, list[dict]] = {True: [], False: []}
    for r in both:
        by_file[r["_source_file"].endswith(is_old)].append(r.asDict())
    key = lambda r: (r["station_id"], r["begin_time"], r["end_time"])  # noqa: E731
    want = sorted(new_table.to_pylist(), key=key)
    assert sorted(({c: r[c] for c in FORECASTS_SCHEMA.names}
                   for r in by_file[False]), key=key) == want
    assert sorted(({c: r[c] for c in old_cols} for r in by_file[True]),
                  key=key) == [{c: r[c] for c in old_cols} for r in want]
    assert all(r[c] is None for r in by_file[True] for c in missing)
    assert any(r["snow_amt"] is not None for r in want)

    # the same rows written by Spark's writer, as the daemon once landed
    # them, answer a one-day forecast read the same
    spark_dir = str(tmp_path / "spark")
    part_dir = str(tmp_path / "part")
    spark.createDataFrame(new_table.to_pylist(), FORECASTS_SCHEMA).coalesce(
        1).write.parquet(part_dir)
    part = [f for f in os.listdir(part_dir) if f.startswith("part-")]
    target = snapshot_path(spark_dir, "forecasts", T0)
    os.makedirs(os.path.dirname(target))
    shutil.move(os.path.join(part_dir, part[0]), target)

    def day(data_dir):
        return sorted(tuple(r) for r in service.forecasts_request(
            spark, data_dir, start=datetime(2026, 1, 15, tzinfo=timezone.utc),
            end=datetime(2026, 1, 16, tzinfo=timezone.utc),
            generated_start=T0 - timedelta(days=1),
            generated_end=T0 + timedelta(days=1)).collect())

    os.remove(old_path)
    landed_answer = day(str(tmp_path / "wx"))
    assert len(landed_answer) == 2
    assert landed_answer == day(spark_dir)
