#!/usr/bin/env python3
"""Benchmark of the weather oracle as its users see it.

    python3 perfbench/run.py --workload dashboard_reads --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. The server is started the way `cli serve`
starts it (get_spark + http_service.make_server) in its own process; the
ingest workload adds a daemon process; this process is the load generator
(at most nproc client threads). Inputs come from --seed (perfbench/
datagen.py) and are cached under perfbench/.work/cache. Before timing,
each route's warm-up response is checked against DuckDB running the
reference SQL; a mismatch fails the run.

Human-readable lines go to stdout first; the last line is the JSON result
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. A trace run also writes
span files and a self-time table under perfbench/.work/out/.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

END_TO_END_UNITS = {
    "setup_s": "s",
    "p50_s": "s",
    "tail_s": "s",
    "ops_per_s": "1/s",
    "peak_rss_mb": "MB",
}


def _fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _prepare(root: str) -> dict:
    """Environment for the server and daemon processes: CPU count, and all
    scratch files under the work dir."""
    repo = os.path.dirname(HERE)
    if not os.path.isfile(os.path.join(repo, "noaa_oracle_spark", "http_service.py")):
        _fail("noaa_oracle_spark/ not found next to perfbench/; "
              "run from the repository root")
    tmp = os.path.join(root, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.makedirs(os.path.join(root, "out"), exist_ok=True)
    env = dict(os.environ)
    env.pop("OMP_NUM_THREADS", None)
    env.update({
        "SPARK_GRAFT_CPUS": str(os.cpu_count()),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        # JVM scratch files stay in the work dir; no /tmp/hsperfdata files
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": repo + os.pathsep + env.get("PYTHONPATH", ""),
        "PYSPARK_PYTHON": sys.executable,
    })
    return env


def _line(name: str, value, unit: str, note: str = "") -> None:
    v = f"{value:.4f}" if isinstance(value, float) else str(value)
    print(f"  {name:32s} {v:>12s} {unit:6s} {note}")


def _report_end_to_end(workload: str, ctx, out: dict) -> dict:
    prim = out["primary"]
    names = out["names"]
    metrics = {
        "setup_s": out["setup_s"],
        "p50_s": prim["p50_s"],
        "tail_s": prim["tail_s"],
        "ops_per_s": prim["rps"],
        "peak_rss_mb": out["peak_rss_mb"],
    }
    n = prim["samples"]
    print(f"{workload} seed={ctx.seed} clients={out['clients']} "
          f"seconds={ctx.seconds:g}")
    _line("setup_s", out["setup_s"], "s", ctx.notes.get("setup_parts", ""))
    _line(f"p50_s ({names['p50_s']})", prim["p50_s"], "s", f"n={n}")
    _line(f"tail_s ({names['tail_s']})", prim["tail_s"], "s",
          f"n={n}, {prim['beyond_tail']} beyond p{prim['tail_q']:g}")
    _line(f"ops_per_s ({names['ops_per_s']})", prim["rps"], "1/s",
          prim.get("ops_note", f"n={n - prim['failed']} completed"))
    _line("peak_rss_mb", out["peak_rss_mb"], "MB", "server process tree")
    for name, value, unit, n_samples in out.get("extra", []):
        _line(name, value, unit, f"n={n_samples}")
    attempted = len(ctx.ops)
    failed = sum(1 for _k, ok in ctx.ops if not ok)
    _line("error_rate", failed / attempted if attempted else 0.0, "ratio",
          f"{failed} failed / {attempted} attempted operations")
    return metrics


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    import datagen
    import layers
    import workloads
    from harness import BenchError

    if args.workload not in workloads.WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}")
    root = os.path.join(HERE, ".work")
    env = _prepare(root)
    store, manifest = datagen.ensure_store(os.path.join(root, "cache"), args.seed)
    print(f"store {os.path.basename(store)}: {len(manifest['files'])} files, "
          f"{manifest['bytes'] / 1e6:.1f} MB, generated in "
          f"{manifest['generate_s']:.2f} s (not part of setup_s)")
    ctx = workloads.Context(
        root=root, seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
        store=store, manifest=manifest, env=env,
    )
    t0 = time.perf_counter()
    try:
        out = workloads.WORKLOADS[args.workload](ctx)
    except BenchError as exc:
        _fail(str(exc), 1)
    for p in ctx.problems:
        print(f"  INCORRECT: {p}")
    for f in ctx.failures[:10]:
        print(f"  FAILED: {f}")
    correct = not ctx.problems

    if args.trace:
        spans, requests = layers.load(out["span_files"])
        metrics, table = layers.summarize(
            spans, requests, out["traced_results"], out["untraced_results"])
        table_path = ctx.out_path(f"{args.workload}-seed{args.seed}.layers.txt")
        with open(table_path, "w") as f:
            f.write(table + "\n")
        print(table)
        print(f"spans: {', '.join(out['span_files'])}; table: {table_path}")
        units = layers.PER_LAYER
    else:
        metrics = _report_end_to_end(args.workload, ctx, out)
        units = END_TO_END_UNITS
    attempted = len(ctx.ops)
    failed = sum(1 for _k, ok in ctx.ops if not ok)
    print(f"wall {time.perf_counter() - t0:.1f} s")
    bad = [k for k, v in metrics.items() if not math.isfinite(v)]
    if bad:
        correct = False
        print(f"  INCORRECT: no value for {bad}")
    result = {
        "correct": correct,
        "attempted": max(attempted, 1),
        "failed": failed,
        "metrics": {
            k: {"value": v if math.isfinite(v) else 0.0, "unit": units[k]}
            for k, v in metrics.items()
        },
    }
    print(json.dumps(result))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
