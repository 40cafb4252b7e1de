"""The small-read path: no second listing of catalog paths, scans sized by
bytes, and request-invariant Column expressions shared across requests.

Spark jobs are counted per job group through `statusTracker`, the same way
tests/test_eventstore_concurrency.py counts them.
"""

from __future__ import annotations

import os
import sys
import threading
import uuid
from contextlib import contextmanager
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from noaa_oracle_spark import service
from noaa_oracle_spark.queries import weather
from noaa_oracle_spark.sources import reader
from noaa_oracle_spark.sources.catalog import SnapshotCatalog, snapshot_path
from tests.weather_fixtures import (
    MIX_D0,
    MIX_STATIONS,
    OBS_NEW_FIELDS,
    rfc,
    write_forecast_mix,
)

UTC = timezone.utc
D0 = datetime(2026, 3, 1, tzinfo=UTC)
HOURS = 96
STATIONS = ["KATL", "KBOS", "KSEA", "KDEN", "KJFK", "KORD"]
LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"


def _obs_rows(hour: int) -> list[dict]:
    at = D0 + timedelta(hours=hour)
    return [
        {
            "station_id": s,
            "station_name": f"{s} Intl",
            "latitude": 30.0 + i,
            "longitude": -80.0 - i,
            "generated_at": rfc(at),
            "temperature_value": float((hour * 7 + i * 5) % 40 - 10),
            "temperature_unit_code": "celcius",
            "wind_direction": (hour * 30 + i) % 360,
            "wind_direction_unit_code": "degrees true",
            "wind_speed": (hour + i) % 30,
            "wind_speed_unit_code": "km/h",
            "dewpoint_value": float((hour + i) % 15 - 5),
            "dewpoint_unit_code": "celcius",
            "state": "GA",
            "iata_id": s[1:],
            "elevation_m": 100.0 + i,
            "precip_in": 0.01 * ((hour + i) % 4),
            "precip_unit_code": "inches",
            "wx_string": ["", "RA", "SN", "FZRA"][(hour + i) % 4],
        }
        for i, s in enumerate(STATIONS)
    ]


@pytest.fixture(scope="module")
def hourly_dir(tmp_path_factory):
    """Four days of hourly observation snapshots, one file per hour."""
    d = str(tmp_path_factory.mktemp("hourly"))
    for h in range(HOURS):
        path = snapshot_path(d, "observations", D0 + timedelta(hours=h))
        os.makedirs(os.path.dirname(path), exist_ok=True)
        rows = _obs_rows(h)
        pq.write_table(
            pa.table({n: pa.array([r[n] for r in rows], type=t)
                      for n, t in OBS_NEW_FIELDS}),
            path,
        )
    return d


END = D0 + timedelta(hours=HOURS - 1)


@contextmanager
def _job_group(sc):
    """Run the body in a fresh job group; yields a function returning the
    ids of the jobs that group ran so far."""
    group = f"read-path-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "read path")
    try:
        yield lambda: sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _sorted_rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def test_read_over_many_catalog_paths_runs_no_listing_job(spark, hourly_dir):
    paths = SnapshotCatalog(hourly_dir).list_paths(
        "observations", END - timedelta(days=3), END)
    assert len(paths) >= 40
    sc = spark.sparkContext
    with _job_group(sc) as jobs:
        df = reader.read_snapshots(spark, paths, "observations")
        assert jobs() == []
        # the counter sees jobs at all: collecting the frame runs some
        assert df.count() == len(paths) * len(STATIONS)
        assert jobs()


def test_three_day_observations_collect_in_two_jobs(spark, hourly_dir):
    args = dict(station_ids=["KATL", "KSEA"], start=END - timedelta(days=3),
                end=END, temperature_unit="fahrenheit")
    sc = spark.sparkContext
    with _job_group(sc) as jobs:
        rows = _sorted_rows(
            service.observations_request(spark, hourly_dir, **args))
        assert 1 <= len(jobs()) <= 2
    assert len(rows) == 2
    # the same rows as a read that lists the paths again in a Spark job
    threshold = spark.conf.get(LISTING_THRESHOLD)
    spark.conf.set(LISTING_THRESHOLD, "32")
    try:
        relisted = _sorted_rows(
            service.observations_request(spark, hourly_dir, **args))
    finally:
        spark.conf.set(LISTING_THRESHOLD, threshold)
    assert rows == relisted


def test_scan_is_sized_by_its_file_bytes(spark, hourly_dir, monkeypatch):
    """The coalesce target comes from the bytes of the selected files: with
    a 1 KB target the scan keeps more than the floor of partitions."""
    paths = SnapshotCatalog(hourly_dir).all_paths("observations")
    monkeypatch.setattr(reader, "_TARGET_PARTITION_BYTES", 1024)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
    try:
        scan = reader.read_snapshots(spark, paths, "observations")
        assert scan.rdd.getNumPartitions() > reader._MIN_SCAN_PARTITIONS
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")


def _request(spark, data_dir, fn, stations, unit):
    return _sorted_rows(getattr(service, fn)(
        spark, data_dir, station_ids=stations, start=END - timedelta(days=1),
        end=END, temperature_unit=unit))


def test_shared_expressions_serve_concurrent_requests(spark, hourly_dir):
    cases = [
        ("observations_request", ["KATL"], "celsius"),
        ("observations_request", ["KBOS", "KDEN"], "fahrenheit"),
        ("daily_observations_request", ["KSEA"], "fahrenheit"),
        ("daily_observations_request", ["KJFK", "KORD"], "celsius"),
    ]
    serial = [_request(spark, hourly_dir, *c) for c in cases]
    for builder in (weather._obs_aggs, weather._precip_type,
                    weather._unit_columns):
        builder.cache_clear()

    # two threads per case: more threads than the 4 local cores, all
    # starting on empty caches
    jobs = [i % len(cases) for i in range(2 * len(cases))]
    results: list = [None] * len(jobs)
    errors: list = []
    start = threading.Barrier(len(jobs))

    def run(j):
        try:
            start.wait(timeout=60)
            results[j] = _request(spark, hourly_dir, *cases[jobs[j]])
        except Exception as exc:  # noqa: BLE001 — reported below
            errors.append(exc)

    threads = [threading.Thread(target=run, args=(j,))
               for j in range(len(jobs))]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert results == [serial[i] for i in jobs]
    assert all(serial)


def test_each_request_answers_in_its_own_unit(spark, hourly_dir):
    def temps(unit):
        (row,) = service.observations_request(
            spark, hourly_dir, station_ids=["KATL"],
            start=END - timedelta(hours=4), end=END,
            temperature_unit=unit).collect()
        return row["temperature_unit_code"], row["temp_low"], row["temp_high"]

    c_unit, c_low, c_high = temps("celsius")
    f_unit, f_low, f_high = temps("fahrenheit")
    assert (c_unit, f_unit) == ("celsius", "fahrenheit")
    assert f_low == pytest.approx(c_low * 9 / 5 + 32)
    assert f_high == pytest.approx(c_high * 9 / 5 + 32)
    assert temps("celsius") == (c_unit, c_low, c_high)


def test_five_station_forecasts_run_in_two_jobs(spark, tmp_path):
    """The forecast rollup is one grouped-map pass after one exchange:
    a ±3 day read of five stations runs at most two Spark jobs."""
    d = str(tmp_path)
    write_forecast_mix(d, seed=3)
    center = MIX_D0 + timedelta(days=1)
    args = dict(station_ids=MIX_STATIONS[:5], start=center - timedelta(days=3),
                end=center + timedelta(days=3),
                generated_start=MIX_D0 - timedelta(days=1),
                generated_end=MIX_D0 + timedelta(days=1))
    sc = spark.sparkContext
    with _job_group(sc) as jobs:
        rows = service.forecasts_request(spark, d, **args).collect()
        assert 1 <= len(jobs()) <= 2
    assert {r["station_id"] for r in rows} == set(MIX_STATIONS[:5])
