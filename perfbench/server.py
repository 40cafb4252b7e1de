"""Server process for the benchmark: the `cli serve` path (get_spark +
http_service.make_server), plus an optional tracer installed from
perfbench/tracer.py.

    python3 perfbench/server.py --data-dir D --events-dir E [--trace]

Prints one JSON line {"port": N} once bound, then serves. Commands arrive
one per line on stdin: `trace on`, `trace off`, `dump <path>` (write the
span file and the per-request Spark counts), `quit`.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--data-dir", required=True)
    ap.add_argument("--events-dir", required=True)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()

    from noaa_oracle_spark.http_service import make_server
    from noaa_oracle_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench-server",
        extra_conf=spark_conf(),
    )
    spark.sparkContext.setLogLevel("ERROR")
    tracer = None
    if args.trace:
        import tracer as tracer_mod

        tracer = tracer_mod.install(spark)
    srv = make_server(
        spark, args.data_dir, "127.0.0.1", 0, event_store_path=args.events_dir
    )
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    print(json.dumps({"port": srv.server_address[1]}), flush=True)
    try:
        for line in sys.stdin:
            cmd = line.strip().split(" ", 1)
            if cmd[0] == "quit":
                break
            if tracer is None:
                continue
            if cmd[0] == "trace":
                tracer.enabled = cmd[1] == "on"
            elif cmd[0] == "dump":
                tracer.dump(cmd[1])
                print(json.dumps({"dumped": cmd[1]}), flush=True)
    finally:
        srv.shutdown()
        srv.server_close()
        spark.stop()


def spark_conf() -> dict[str, str]:
    return {"spark.ui.showConsoleProgress": "false"}


if __name__ == "__main__":
    main()
