"""Daemon fetch-loop parity: token bucket, retrying fetcher, batching, and
the hourly collection cycle landing snapshot parquet through
sources/writer without a Spark job — everything driven from canned XML and
virtual clocks, no network (crates/daemon/src/utils.rs:93-268, main.rs:51-130,
download_forecast.rs:938-1010 / 1220-1256, coordinates.rs:116-135).
"""

from __future__ import annotations

import logging
import uuid
from datetime import datetime, timedelta, timezone
from urllib.parse import parse_qs, urlsplit

import pyarrow.parquet as pq
import pytest

from noaa_oracle_spark.daemon import (
    CollectionCycle,
    DaemonConfig,
    METAR_CACHE_URL,
    RateLimitExceeded,
    TokenBucket,
    XmlFetcher,
    fetch_batch_with_retry,
    forecast_url,
    round_to_hour,
    split_stations,
)
from tests.test_xml_etl import DWML_XML, METAR_XML, STATIONS

UTC = timezone.utc


class VirtualTime:
    """monotonic clock + sleep pair where sleeping advances the clock."""

    def __init__(self) -> None:
        self.now = 1000.0
        self.sleeps: list[float] = []

    def clock(self) -> float:
        return self.now

    def sleep(self, secs: float) -> None:
        self.sleeps.append(secs)
        self.now += secs


def _bucket(capacity=3, rate=15.0):
    vt = VirtualTime()
    return TokenBucket(capacity, rate, clock=vt.clock, sleep=vt.sleep), vt


# ---------------------------------------------------------------------------
# TokenBucket (utils.rs:170-209)
# ---------------------------------------------------------------------------


def test_bucket_burst_then_refill():
    b, vt = _bucket(capacity=3, rate=1.0)
    assert all(b.try_acquire(1.0, max_retries=0) for _ in range(3))
    # empty now; no time has passed → immediate failure with no retries
    assert not b.try_acquire(1.0, max_retries=0)
    vt.now += 2.0  # 2 tokens refill
    assert b.try_acquire(1.0, max_retries=0)
    assert b.try_acquire(1.0, max_retries=0)
    assert not b.try_acquire(1.0, max_retries=0)


def test_bucket_clamps_at_capacity():
    b, vt = _bucket(capacity=3, rate=100.0)
    vt.now += 3600.0  # an hour idle must NOT bank 360k tokens
    b._refill()
    assert b.tokens == 3.0


def test_bucket_retry_waits_20s_three_times():
    b, vt = _bucket(capacity=1, rate=0.01)  # 20 s wait refills only 0.2
    assert b.try_acquire(1.0)
    # each of the 3 retries waits 20 s (utils.rs:205-207); 60 s * 0.01/s
    # = 0.6 tokens < 1 → False after exactly three 20 s sleeps
    assert not b.try_acquire(1.0)
    assert vt.sleeps == [20.0, 20.0, 20.0]


def test_bucket_retry_succeeds_when_refill_lands():
    b, vt = _bucket(capacity=1, rate=0.05)  # one 20 s wait = 1 token
    assert b.try_acquire(1.0)
    assert b.try_acquire(1.0)
    assert vt.sleeps == [20.0]


# ---------------------------------------------------------------------------
# XmlFetcher (utils.rs:212-268)
# ---------------------------------------------------------------------------


def test_fetcher_transient_retry_with_backoff():
    b, vt = _bucket()
    calls = {"n": 0}

    def flaky(url, timeout, headers):
        calls["n"] += 1
        if calls["n"] < 3:
            raise OSError("boom")
        return "<ok/>"

    f = XmlFetcher(b, transport=flaky)
    assert f.fetch_xml("http://x") == "<ok/>"
    assert calls["n"] == 3
    assert vt.sleeps == [1.0, 2.0]  # exponential backoff


def test_fetcher_gives_up_after_max_retries():
    b, _ = _bucket()

    def always_fail(url, timeout, headers):
        raise OSError("down")

    f = XmlFetcher(b, transport=always_fail, max_retries=2)
    with pytest.raises(OSError):
        f.fetch_xml("http://x")


def test_fetcher_rate_limit_exceeded():
    b, _ = _bucket(capacity=1, rate=0.001)
    f = XmlFetcher(b, transport=lambda *a: "<ok/>")
    assert f.fetch_xml("http://x") == "<ok/>"
    with pytest.raises(RateLimitExceeded):
        f.fetch_xml("http://x")


def test_fetcher_sends_user_agent():
    b, _ = _bucket()
    seen = {}

    def capture(url, timeout, headers):
        seen.update(headers)
        return "<ok/>"

    XmlFetcher(b, user_agent="ua-test/1", transport=capture).fetch_xml("u")
    assert seen["User-Agent"] == "ua-test/1"


# ---------------------------------------------------------------------------
# Batching + URL building (coordinates.rs:116, download_forecast.rs:1220)
# ---------------------------------------------------------------------------


def test_split_stations_batches_of_50():
    stations = {f"S{i:03d}": {"latitude": i, "longitude": -i} for i in range(120)}
    batches = split_stations(stations)
    assert [len(b) for b in batches] == [50, 50, 20]
    merged = {k: v for b in batches for k, v in b.items()}
    assert merged == {k: dict(v) for k, v in stations.items()}


def test_round_to_hour_reference_quirks():
    assert round_to_hour(datetime(2026, 1, 15, 10, 30, tzinfo=UTC)).hour == 10
    assert round_to_hour(datetime(2026, 1, 15, 10, 31, tzinfo=UTC)).hour == 11
    # the 23:31 wrap goes to hour 0 of the SAME day (no day carry) —
    # reproduced verbatim from download_forecast.rs:1226-1233
    wrapped = round_to_hour(datetime(2026, 1, 15, 23, 45, tzinfo=UTC))
    assert (wrapped.day, wrapped.hour) == (15, 0)


def test_forecast_url_shape():
    batch = {
        "KATL": {"latitude": 33.63, "longitude": -84.44},
        "KBOS": {"latitude": 42.36, "longitude": -71.01},
    }
    url = forecast_url(batch, datetime(2026, 1, 15, 10, 0, tzinfo=UTC))
    assert "listLatLon=33.63,-84.44%2042.36,-71.01" in url
    assert "begin=2026-01-15T10:00:00" in url
    assert "end=2026-01-22T10:00:00" in url
    for el in ("maxt", "mint", "qpf", "snowratio", "iceaccum", "pop12"):
        assert f"&{el}={el}" in url


# ---------------------------------------------------------------------------
# Outer per-batch retry (download_forecast.rs:938-1010)
# ---------------------------------------------------------------------------


def _fetcher(transport):
    b, vt = _bucket(capacity=100, rate=100.0)
    return XmlFetcher(b, transport=transport, max_retries=0), vt


def test_batch_retry_noaa_error_body_skips():
    f, _ = _fetcher(lambda *a: "<error>no data</error>")
    got = fetch_batch_with_retry(f, "u", parse=lambda x: 1, empty="EMPTY")
    assert got == "EMPTY"


def test_batch_retry_parse_failure_skips():
    f, _ = _fetcher(lambda *a: "<dwml>ok</dwml>")

    def bad_parse(xml):
        raise ValueError("nope")

    assert fetch_batch_with_retry(f, "u", parse=bad_parse, empty=None) is None


def test_batch_retry_transport_failure_then_success():
    state = {"n": 0}

    def flaky(url, timeout, headers):
        state["n"] += 1
        if state["n"] == 1:
            raise OSError("reset")
        return "<dwml>ok</dwml>"

    f, vt = _fetcher(flaky)
    got = fetch_batch_with_retry(f, "u", parse=lambda x: x, empty=None)
    assert got == "<dwml>ok</dwml>"
    assert 5.0 in vt.sleeps  # the 5 s inter-attempt wait


def test_batch_retry_exhaustion_returns_empty():
    def always_fail(url, timeout, headers):
        raise OSError("down")

    f, _ = _fetcher(always_fail)
    assert fetch_batch_with_retry(f, "u", parse=lambda x: x, empty=()) == ()


# ---------------------------------------------------------------------------
# Hourly cycle integration: canned XML → snapshot parquet → weather query
# ---------------------------------------------------------------------------

def _canned_transport(url, timeout, headers):
    if url == METAR_CACHE_URL:
        return METAR_XML
    assert "ndfdXMLclient.php" in url
    return DWML_XML


def test_hourly_cycle_end_to_end(spark, tmp_path):
    from noaa_oracle_spark.queries.weather import forecasts_data
    from noaa_oracle_spark.sources.catalog import SnapshotCatalog
    from noaa_oracle_spark.sources.reader import read_snapshots

    bucket, vt = _bucket(capacity=10, rate=15.0)
    fetcher = XmlFetcher(bucket, transport=_canned_transport)
    cfg = DaemonConfig(data_dir=str(tmp_path), sleep_interval=3600.0)
    cycle = CollectionCycle(spark, cfg, fetcher, STATIONS)

    t0 = datetime(2026, 1, 15, 2, 0, tzinfo=UTC)
    clock = iter([t0, t0 + timedelta(hours=1)])
    results = cycle.run_forever(
        max_cycles=2, sleep=vt.sleep, now_fn=lambda: next(clock)
    )

    assert len(results) == 2
    assert all({"forecasts", "observations"} <= set(r) for r in results)
    assert 3600.0 in vt.sleeps  # the inter-cycle sleep_interval
    # one NDFD batch + one METAR doc per cycle (2 stations < batch size)
    assert fetcher.requests_made == 4

    cat = SnapshotCatalog(str(tmp_path))
    obs_paths = cat.list_paths(
        "observations", t0 - timedelta(days=1), t0 + timedelta(days=1)
    )
    fc_paths = cat.list_paths(
        "forecasts", t0 - timedelta(days=1), t0 + timedelta(days=1)
    )
    assert len(obs_paths) == 2 and len(fc_paths) == 2

    obs = read_snapshots(spark, obs_paths, "observations")
    assert obs.count() == 4  # 2 stations x 2 hourly snapshots
    katl = obs.filter("station_id = 'KATL'").first()
    assert katl["state"] == "GA" and katl["iata_id"] == "ATL"

    fc = read_snapshots(spark, fc_paths, "forecasts")
    assert fc.count() > 0
    daily = forecasts_data(
        fc,
        start=t0,
        end=t0 + timedelta(days=2),
        generated_start=t0 - timedelta(days=1),
        generated_end=t0 + timedelta(days=1),
    ).collect()
    assert {r["station_id"] for r in daily} == {"KATL", "KBOS"}


# ---------------------------------------------------------------------------
# The cycle runs no Spark job, lands every batch, and logs its failures
# ---------------------------------------------------------------------------

T0 = datetime(2026, 1, 15, 2, 0, tzinfo=UTC)


def _cycle(spark, tmp_path, stations=STATIONS, transport=_canned_transport,
           **config):
    bucket, _ = _bucket(capacity=100, rate=100.0)
    return CollectionCycle(
        spark,
        DaemonConfig(data_dir=str(tmp_path), **config),
        XmlFetcher(bucket, transport=transport),
        stations,
    )


def test_cycle_lands_both_files_without_spark(tmp_path):
    paths = _cycle(None, tmp_path).run_once(T0)
    assert set(paths) == {"forecasts", "observations"}
    fc = pq.read_table(paths["forecasts"])
    assert set(fc.column("station_id").to_pylist()) == {"KATL", "KBOS"}
    obs = pq.read_table(paths["observations"])
    assert sorted(obs.column("station_id").to_pylist()) == ["KATL", "KBOS"]


def test_cycle_runs_no_spark_job(spark, tmp_path):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"daemon-cycle-{uuid.uuid4().hex}"
    try:
        sc.setJobGroup(group, "cycle")
        paths = _cycle(spark, tmp_path).run_once(T0)
        assert set(paths) == {"forecasts", "observations"}
        assert tracker.getJobIdsForGroup(group) == []
        # the counter sees jobs at all: reading what landed shows up
        spark.read.parquet(paths["observations"]).count()
        assert tracker.getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


# five stations, each with its own forecast high
BATCHED = {
    f"K{c * 3}": {
        "station_name": f"Station {c}",
        "state": "TX",
        "iata_id": c * 3,
        "elevation_m": 100.0 + i,
        "latitude": 30.0 + i,
        "longitude": -97.0 - i,
    }
    for i, c in enumerate("ABCDE")
}


def _high(lat: float) -> int:
    return 50 + int(lat)


def _batched_transport(url, timeout, headers):
    """One NDFD document per batch, its points named point1…pointN as
    NOAA names them, whatever the batch."""
    if url == METAR_CACHE_URL:
        return METAR_XML
    pairs = [p.split(",") for p in
             parse_qs(urlsplit(url).query)["listLatLon"][0].split(" ")]
    locs = "".join(
        f"<location><location-key>point{j + 1}</location-key>"
        f'<point latitude="{lat}" longitude="{lon}"/></location>'
        for j, (lat, lon) in enumerate(pairs))
    params = "".join(
        f'<parameters applicable-location="point{j + 1}">'
        '<temperature type="maximum" units="Fahrenheit" time-layout="k-24">'
        f"<value>{_high(float(lat))}</value></temperature></parameters>"
        for j, (lat, _lon) in enumerate(pairs))
    return (
        '<?xml version="1.0"?><dwml><head><product><creation-date>'
        "2026-01-15T02:00:00Z</creation-date></product></head><data>"
        f"{locs}<time-layout><layout-key>k-24</layout-key>"
        "<start-valid-time>2026-01-15T00:00:00+00:00</start-valid-time>"
        "<end-valid-time>2026-01-16T00:00:00+00:00</end-valid-time>"
        f"</time-layout>{params}</data></dwml>"
    )


def test_every_batch_lands_its_own_stations(tmp_path):
    cycle = _cycle(None, tmp_path, BATCHED, _batched_transport,
                   station_batch_size=2)
    paths = cycle.run_once(T0)
    assert cycle.fetcher.requests_made == 3 + 1  # 2 + 2 + 1 stations, METAR
    rows = pq.read_table(paths["forecasts"]).to_pylist()
    got = {r["station_id"]: (r["max_temp"], r["station_name"],
                             r["latitude"]) for r in rows}
    assert len(rows) == len(BATCHED)
    assert got == {
        sid: (_high(m["latitude"]), m["station_name"], m["latitude"])
        for sid, m in BATCHED.items()
    }


def test_failed_cycle_is_logged_with_its_traceback(tmp_path, monkeypatch,
                                                   caplog):
    from noaa_oracle_spark.sources import writer

    def broken(*_args, **_kw):
        raise OSError("disk full")

    monkeypatch.setattr(writer, "write_snapshot", broken)
    clock = iter([T0, T0 + timedelta(hours=1)])
    with caplog.at_level(logging.ERROR, logger="noaa_oracle_spark.daemon"):
        results = _cycle(None, tmp_path).run_forever(
            max_cycles=2, sleep=lambda _s: None, now_fn=lambda: next(clock))
    assert results == [{}, {}]  # the loop went on after the first failure
    failed = [r for r in caplog.records
              if r.getMessage() == "Error processing data"]
    assert len(failed) == 2
    assert all(r.exc_info and isinstance(r.exc_info[1], OSError)
               for r in failed)
    assert "Traceback" in caplog.text and "OSError: disk full" in caplog.text


def test_skipped_batch_is_logged_as_a_warning(tmp_path, caplog):
    def no_forecasts(url, timeout, headers):
        if url == METAR_CACHE_URL:
            return METAR_XML
        return "<error>Point with latitude 0 is not on an NDFD grid</error>"

    with caplog.at_level(logging.INFO, logger="noaa_oracle_spark.daemon"):
        paths = _cycle(None, tmp_path, transport=no_forecasts).run_once(T0)
    assert set(paths) == {"observations"}
    assert [r.levelname for r in caplog.records
            if "skipping" in r.getMessage()] == ["WARNING"]
