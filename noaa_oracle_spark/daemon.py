"""NOAA fetch-loop parity: token-bucket rate limiting, retrying XML fetch,
and the hourly collection cycle that lands snapshot parquet through
sources/writer. A cycle runs no Spark job.

Reference behavior mirrored (all in /root/reference/crates/daemon/src):
  - RateLimiter           utils.rs:170-209  (token bucket: capacity 3,
                          refill 15 tokens/s, acquire retries 3x with a
                          20 s wait between attempts)
  - XmlFetcher            utils.rs:212-268  (one token per request, 20 s
                          request timeout, exponential-backoff transient
                          retry with max 3 retries, custom User-Agent)
  - fetch_forecast_with_retry
                          domains/forecasts/download_forecast.rs:938-1010
                          (outer loop: NOAA `<error>` body → skip batch as
                          empty; parse failure → empty; transport error →
                          sleep 5 s and retry)
  - split_cityweather     coordinates.rs:116-135 (50 stations per request)
  - get_url               download_forecast.rs:1220-1256 (round now to the
                          nearest hour, 7-day horizon, NDFD element list)
  - process_data loop     main.rs:51-130 (per cycle: date subfolder,
                          forecasts_{ts}.parquet then observations_{ts}
                          .parquet, fixed sleep between cycles)

Engine-side boundary: the HTTP transport is an injected callable so tests
(and air-gapped runs) drive the whole cycle from canned XML; the default
transport is stdlib urllib with gzip handling — no extra dependencies.
Parsing, flattening, station attachment, and the parquet sink are the
already-tested engine paths (sources/xml_ingest, sources/etl_forecast,
sources/writer), all plain Python/Arrow on the rows the parse builds, so
this module adds ONLY the driver-loop concerns: pacing, retries,
batching, filesystem layout and logging.

Deliberate deviation: the reference's `refill_tokens` adds
`min(elapsed*rate, capacity)` without clamping the running total, so a
long-idle limiter can accumulate more than `capacity` tokens
(utils.rs:186-192). This implementation clamps the balance at `capacity`
— the textbook bucket — because the unclamped form defeats the burst
bound the limiter exists to provide; behavior is otherwise identical for
back-to-back acquisition patterns.
"""

from __future__ import annotations

import gzip
import logging
import urllib.request
from collections.abc import Callable, Mapping, Sequence
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

import pyarrow as pa
from pyspark.sql import SparkSession

_LOG = logging.getLogger(__name__)

DEFAULT_USER_AGENT = "noaa-oracle-spark/0.1 (data collection)"

STATIONS_INDEX_URL = (
    "https://aviationweather.gov/data/cache/stations.cache.xml.gz"
)
METAR_CACHE_URL = "https://aviationweather.gov/data/cache/metars.cache.xml.gz"
NDFD_URL = (
    "https://graphical.weather.gov/xml/sample_products/browser_interface/"
    "ndfdXMLclient.php"
)
# NDFD element list requested per batch (download_forecast.rs:1255)
NDFD_ELEMENTS = (
    "maxt=maxt&mint=mint&wspd=wspd&wdir=wdir&pop12=pop12&qpf=qpf"
    "&snow=snow&snowratio=snowratio&iceaccum=iceaccum&maxrh=maxrh"
    "&minrh=minrh"
)


class RateLimitExceeded(RuntimeError):
    """Raised when the bucket stays empty through all acquire retries
    (utils.rs:232-235 maps this to a request error)."""


class TokenBucket:
    """Token-bucket limiter (utils.rs:170-209). `clock`/`sleep` are
    injectable so tests advance virtual time instead of waiting."""

    def __init__(
        self,
        capacity: int = 3,
        refill_rate: float = 15.0,
        clock: Callable[[], float] | None = None,
        sleep: Callable[[float], None] | None = None,
    ) -> None:
        import time

        self.capacity = float(capacity)
        self.refill_rate = float(refill_rate)
        self._clock = clock or time.monotonic
        self._sleep = sleep or time.sleep
        self.tokens = self.capacity
        self._last_refill = self._clock()

    def _refill(self) -> None:
        now = self._clock()
        elapsed = max(0.0, now - self._last_refill)
        self.tokens = min(
            self.capacity, self.tokens + elapsed * self.refill_rate
        )
        self._last_refill = now

    def try_acquire(
        self,
        tokens: float = 1.0,
        max_retries: int = 3,
        retry_wait: float = 20.0,
    ) -> bool:
        """Acquire or wait-and-retry up to `max_retries` times
        (utils.rs:194-209: 3 retries, 20 s apart)."""
        retries = 0
        while True:
            self._refill()
            if tokens <= self.tokens:
                self.tokens -= tokens
                return True
            if retries >= max_retries:
                return False
            retries += 1
            self._sleep(retry_wait)


def _default_transport(url: str, timeout: float, headers: Mapping[str, str]) -> str:
    """stdlib HTTP GET with transparent gzip (fetch_xml / fetch_xml_gzip,
    utils.rs:231-268). Kept tiny: the daemon's reqwest middleware stack is
    replaced by the explicit retry loop in XmlFetcher."""
    req = urllib.request.Request(url, headers=dict(headers))
    with urllib.request.urlopen(req, timeout=timeout) as resp:  # noqa: S310
        body = resp.read()
    if body[:2] == b"\x1f\x8b" or url.endswith(".gz"):
        body = gzip.decompress(body)
    return body.decode("utf-8", errors="replace")


class XmlFetcher:
    """Rate-limited XML fetch with transient-retry (utils.rs:212-268).

    `transport(url, timeout, headers) -> str` is injectable; tests pass a
    canned-response callable. Transient failures are retried with
    exponential backoff (reqwest-retry's ExponentialBackoff with
    max_retries=3, utils.rs:238-241); the waits go through the bucket's
    injectable sleep so tests run instantly."""

    def __init__(
        self,
        limiter: TokenBucket,
        user_agent: str = DEFAULT_USER_AGENT,
        transport: Callable[[str, float, Mapping[str, str]], str] | None = None,
        timeout: float = 20.0,
        max_retries: int = 3,
        backoff_base: float = 1.0,
    ) -> None:
        self.limiter = limiter
        self.user_agent = user_agent
        self.transport = transport or _default_transport
        self.timeout = timeout
        self.max_retries = max_retries
        self.backoff_base = backoff_base
        self.requests_made = 0

    def fetch_xml(self, url: str) -> str:
        if not self.limiter.try_acquire(1.0):
            raise RateLimitExceeded("Rate limit exceeded after retries")
        headers = {"User-Agent": self.user_agent}
        attempt = 0
        while True:
            try:
                self.requests_made += 1
                return self.transport(url, self.timeout, headers)
            except Exception:
                if attempt >= self.max_retries:
                    raise
                self.limiter._sleep(self.backoff_base * (2**attempt))
                attempt += 1


def split_stations(
    stations: Mapping[str, Mapping], max_per_batch: int = 50
) -> list[dict]:
    """Split the station map into ≤50-key request batches
    (coordinates.rs:116-135; call site download_forecast.rs:1032)."""
    batches: list[dict] = []
    current: dict = {}
    for key in stations:
        if len(current) >= max_per_batch:
            batches.append(current)
            current = {}
        current[key] = dict(stations[key])
    if current:
        batches.append(current)
    return batches


def round_to_hour(now: datetime) -> datetime:
    """Round to the NEAREST hour — minute > 30 rounds up with hour-23
    wrap-to-0 *without a day carry*, exactly as the reference does
    (download_forecast.rs:1221-1244; the 23:31→00:00-same-day quirk is
    reproduced for URL parity)."""
    base = now.replace(minute=0, second=0, microsecond=0)
    if now.minute > 30:
        return base.replace(hour=0) if base.hour == 23 else base + timedelta(hours=1)
    return base


def forecast_url(batch: Mapping[str, Mapping], now: datetime) -> str:
    """NDFD time-series URL for one ≤50-station batch
    (download_forecast.rs:1220-1256): listLatLon pairs, [rounded-now,
    rounded-now + 1 week], imperial units, fixed element list."""
    fmt = "%Y-%m-%dT%H:%M:%S"
    t0 = round_to_hour(now)
    latlon = "%20".join(
        f"{v['latitude']},{v['longitude']}" for v in batch.values()
    )
    return (
        f"{NDFD_URL}?listLatLon={latlon}&product=time-series"
        f"&begin={t0.strftime(fmt)}&end={(t0 + timedelta(weeks=1)).strftime(fmt)}"
        f"&Unit=e&{NDFD_ELEMENTS}"
    )


def fetch_batch_with_retry(
    fetcher: XmlFetcher,
    url: str,
    parse: Callable[[str], object],
    empty: object,
    max_attempts: int = 3,
    retry_wait: float = 5.0,
    log: Callable[[str], None] | None = None,
) -> object:
    """Outer per-batch retry loop (download_forecast.rs:938-1010):
    NOAA `<error>` body → the batch is skipped as empty (the API answers
    200 with an error document for unknown points); a parse failure →
    empty; a transport failure → wait 5 s and try the whole fetch again,
    giving up as empty after `max_attempts`."""
    say = log or (lambda _m: None)
    for attempt in range(max_attempts):
        try:
            xml = fetcher.fetch_xml(url)
        except RateLimitExceeded:
            raise
        except Exception as exc:
            say(f"fetch error ({exc}); retrying")
            if attempt + 1 < max_attempts:
                fetcher.limiter._sleep(retry_wait)
            continue
        if xml.lstrip().startswith("<error>"):
            say("NOAA API returned error response for batch, skipping")
            return empty
        try:
            return parse(xml)
        except Exception as exc:
            say(f"error converting xml: {exc}")
            return empty
    return empty


@dataclass
class DaemonConfig:
    """Knobs of the daemon Cli (utils.rs:60-106 defaults)."""

    data_dir: str = "./data"
    sleep_interval: float = 3600.0
    refill_rate: float = 15.0
    token_capacity: int = 3
    user_agent: str = DEFAULT_USER_AGENT
    station_batch_size: int = 50
    extra: dict = field(default_factory=dict)


class CollectionCycle:
    """One `process_data` pass (main.rs:76-130): fetch forecasts and
    observations through the rate-limited fetcher, flatten each NDFD
    document on its own, and land `{kind}_{ts}.parquet` files in the
    catalog's date-dir layout.

    The cycle runs no Spark job — parse, flatten and write are plain
    Python/Arrow on the driver — so `spark` may be None. `stations` maps
    station_id → {latitude, longitude, station_name, state, iata_id,
    elevation_m} (the coordinates.rs station index); a provider callable
    can lazily fetch it through the same fetcher. `log` takes progress
    messages and skipped batches; by default they go to this module's
    logger at INFO and WARNING. A failed cycle is logged there with its
    traceback."""

    def __init__(
        self,
        spark: SparkSession | None,
        config: DaemonConfig,
        fetcher: XmlFetcher,
        stations: Mapping[str, Mapping] | Callable[[], Mapping[str, Mapping]],
        log: Callable[[str], None] | None = None,
    ) -> None:
        self.spark = spark
        self.config = config
        self.fetcher = fetcher
        self._stations = stations
        self.log = log or _LOG.info
        self._warn = log or _LOG.warning

    def station_index(self) -> Mapping[str, Mapping]:
        if callable(self._stations):
            self._stations = dict(self._stations())
        return self._stations

    def run_once(self, now: datetime | None = None) -> dict[str, str]:
        """Returns {"forecasts": path, "observations": path} for the cycle
        (forecasts first, observations second, as main.rs:103-118)."""
        from noaa_oracle_spark.sources.etl_forecast import flatten_dwml
        from noaa_oracle_spark.sources.writer import write_snapshot
        from noaa_oracle_spark.sources.xml_ingest import (
            dwml_to_readings,
            metar_to_df,
        )

        now = now or datetime.now(timezone.utc)
        stations = self.station_index()
        out: dict[str, str] = {}

        # --- forecasts: one NDFD request per 50-station batch, each
        # document flattened on its own (its points are point1…pointN)
        tables = []
        for batch in split_stations(stations, self.config.station_batch_size):
            readings = fetch_batch_with_retry(
                self.fetcher,
                forecast_url(batch, now),
                parse=lambda xml: dwml_to_readings(xml, now=now),
                empty=None,
                log=self._warn,
            )
            if readings is not None:
                tables.append(flatten_dwml(readings, stations))
        if tables:
            out["forecasts"] = write_snapshot(
                pa.concat_tables(tables), self.config.data_dir, "forecasts",
                now,
            )
            self.log(f"forecasts written to: {out['forecasts']}")

        # --- observations: single cached METAR document for all stations
        obs = fetch_batch_with_retry(
            self.fetcher,
            METAR_CACHE_URL,
            parse=lambda xml: metar_to_df(xml, dict(stations)),
            empty=None,
            log=self._warn,
        )
        if obs is not None:
            out["observations"] = write_snapshot(
                obs, self.config.data_dir, "observations", now
            )
            self.log(f"observations written to: {out['observations']}")
        return out

    def run_forever(
        self,
        max_cycles: int | None = None,
        sleep: Callable[[float], None] | None = None,
        now_fn: Callable[[], datetime] | None = None,
    ) -> list[dict[str, str]]:
        """The hourly loop (main.rs:51-74): run a cycle, sleep
        `sleep_interval`, repeat. A cycle that raises is logged with its
        traceback and the loop continues (main.rs:67-69). `max_cycles`
        bounds the loop for tests; None means run until interrupted."""
        import time as _time

        sleep = sleep or _time.sleep
        now_fn = now_fn or (lambda: datetime.now(timezone.utc))
        results: list[dict[str, str]] = []
        cycles = 0
        while max_cycles is None or cycles < max_cycles:
            try:
                results.append(self.run_once(now_fn()))
                self.log("Finished processing data, waiting for next run")
            except Exception:
                _LOG.exception("Error processing data")
                results.append({})
            cycles += 1
            if max_cycles is None or cycles < max_cycles:
                sleep(self.config.sleep_interval)
        return results
