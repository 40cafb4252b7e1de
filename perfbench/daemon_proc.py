"""Daemon process for the ingest_and_score workload.

    python3 perfbench/daemon_proc.py --data-dir D --seed S --stations N [--trace]

Builds a `daemon.CollectionCycle` whose `XmlFetcher` transport answers
with synthetic METAR/DWML documents (perfbench/datagen.py) and whose
`TokenBucket` sleeps on a virtual clock. Prints {"ready": true}, then runs
one cycle per `cycle <RFC3339>` line on stdin and answers each with
{"paths": {...}, "cycle_s": float}. `dump <path>` writes the span file
when tracing; `quit` exits.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from datetime import datetime
from urllib.parse import parse_qs, urlsplit

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import datagen  # noqa: E402


class VirtualClock:
    """monotonic clock + sleep pair where sleeping advances the clock."""

    def __init__(self) -> None:
        self.now = 0.0

    def clock(self) -> float:
        return self.now

    def sleep(self, secs: float) -> None:
        self.now += secs


class SyntheticNoaa:
    """XmlFetcher transport: METAR cache and NDFD batches from datagen."""

    def __init__(self, st: datagen.Stations, idx: list[int], seed: int):
        self.st = st
        self.idx = idx
        self.seed = seed
        self.by_latlon = {
            (f"{st.lat[i]:.2f}", f"{st.lon[i]:.2f}"): i for i in idx
        }
        self.now: datetime | None = None

    def __call__(self, url: str, timeout: float, headers) -> str:
        from noaa_oracle_spark.daemon import METAR_CACHE_URL

        if url == METAR_CACHE_URL:
            return datagen.metar_xml(self.st, self.idx, self.now, self.seed)
        qs = parse_qs(urlsplit(url).query)
        batch = []
        for pair in qs["listLatLon"][0].split(" "):
            lat, lon = pair.split(",")
            batch.append(
                self.by_latlon[(f"{float(lat):.2f}", f"{float(lon):.2f}")]
            )
        return datagen.dwml_xml(self.st, batch, self.now, self.seed)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--data-dir", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--stations", type=int, required=True)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()

    from noaa_oracle_spark.daemon import (
        CollectionCycle,
        DaemonConfig,
        TokenBucket,
        XmlFetcher,
    )
    from noaa_oracle_spark.session import get_spark

    from server import spark_conf

    spark = get_spark(app_name="perfbench-daemon", extra_conf=spark_conf())
    spark.sparkContext.setLogLevel("ERROR")
    tracer = None
    if args.trace:
        import tracer as tracer_mod

        tracer = tracer_mod.install(spark)
        tracer.enabled = True

    st = datagen.Stations(args.seed)
    idx = list(range(args.stations))
    noaa = SyntheticNoaa(st, idx, args.seed)
    vc = VirtualClock()
    fetcher = XmlFetcher(
        TokenBucket(clock=vc.clock, sleep=vc.sleep), transport=noaa
    )
    cycle = CollectionCycle(
        spark,
        DaemonConfig(data_dir=args.data_dir, station_batch_size=50),
        fetcher,
        {str(st.ids[i]): st.meta(i) for i in idx},
    )
    print(json.dumps({"ready": True}), flush=True)
    for line in sys.stdin:
        cmd, _, arg = line.strip().partition(" ")
        if cmd == "quit":
            break
        if cmd == "cycle":
            now = datetime.fromisoformat(arg)
            noaa.now = now
            t0 = time.perf_counter()
            paths = cycle.run_once(now)
            out = {"paths": paths, "cycle_s": time.perf_counter() - t0}
            print(json.dumps(out), flush=True)
        elif cmd == "dump" and tracer is not None:
            tracer.dump(arg)
            print(json.dumps({"dumped": arg}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
