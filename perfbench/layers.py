"""Per-layer metrics and the self-time table from the span files.

A span's self time is its duration minus its children's. Layers take the
program's module names; an untagged DataFrame.collect belongs to the layer
of the span that called it. Request-scoped metrics are means over the
workload's primary requests of the traced phase; background layers
(daemon, event store, scoring) are means per call.
"""

from __future__ import annotations

import json
from collections import defaultdict

from harness import latency_stats, quantile

LAYER_OF = {
    "http_service.handler": "http_service.handler",
    "http_service.encode": "http_service.encode",
    "service.files_request": "service",
    "sources.catalog.list": "sources.catalog",
    "sources.reader.read": "sources.reader",
    "queries.weather.exec": "queries.weather.exec",
    "scoring.kernel.exec": "scoring.kernel",
    "scoring.kernel.score": "scoring.kernel",
    "daemon.cycle": "daemon",
    "sources.xml_ingest.parse": "sources.xml_ingest",
    "sources.writer.write": "sources.writer",
    "etl.scoring_cycle": "etl",
}

# per-layer metric -> unit, in BENCHMARK.json order
PER_LAYER = {
    "http_service.encode_s": "s",
    "http_service.wait_s": "s",
    "http_service.response_bytes": "B",
    "sources.catalog.list_s": "s",
    "sources.catalog.list_calls": "count",
    "sources.catalog.files_selected": "count",
    "sources.reader.read_s": "s",
    "sources.reader.bytes_selected": "B",
    "queries.weather.plan_s": "s",
    "queries.weather.exec_s": "s",
    "queries.weather.spark_jobs": "count",
    "queries.weather.spark_tasks": "count",
    "queries.weather.rows_out": "count",
    "queries.weather.rows_scanned_per_row_out": "ratio",
    "daemon.cycle_s": "s",
    "sources.xml_ingest.parse_s": "s",
    "sources.writer.write_s": "s",
    "sources.writer.bytes_written": "B",
    "sources.writer.bytes_per_row": "B",
    "eventstore.store.add_entries_s": "s",
    "eventstore.store.create_s": "s",
    "eventstore.store.overwrites": "count",
    "eventstore.store.bytes_rewritten_per_entry": "B",
    "etl.scoring_cycle_s": "s",
    "scoring.kernel.score_s": "s",
    "trace.overhead_ratio": "ratio",
}


def _layer(span: dict, by_id: dict) -> str:
    name = span["name"]
    if name in LAYER_OF:
        return LAYER_OF[name]
    if name.startswith("service."):
        return "queries.weather.plan"
    if name.startswith("eventstore.store."):
        return "eventstore.store"
    parent = by_id.get(span["parent"])
    return _layer(parent, by_id) if parent else "other"


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def load(paths: list[str]) -> tuple[list[dict], dict]:
    """Spans of every process (ids made unique per file) + request counts."""
    spans, requests = [], {}
    for k, p in enumerate(paths):
        with open(p) as f:
            d = json.load(f)
        for s in d["spans"]:
            s = dict(s, id=(k, s["id"]),
                     parent=(k, s["parent"]) if s["parent"] else None)
            spans.append(s)
        requests.update(d["requests"])
    return spans, requests


def summarize(spans: list[dict], requests: dict, primary: list,
              untraced: list) -> tuple[dict, str]:
    """(per-layer metrics, self-time table). `primary` and `untraced` hold
    the client results of the traced and the untraced side, which sent the
    same slots of the schedule."""
    traced_p50 = latency_stats(primary, 50, 0.0)["p50_s"]
    untraced_p50 = latency_stats(untraced, 50, 0.0)["p50_s"]
    by_id = {s["id"]: s for s in spans}
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] in by_id:
            kids[s["parent"]].append(s)
    for s in spans:
        s["dur"] = s["end"] - s["start"]
        s["self"] = s["dur"] - sum(c["end"] - c["start"] for c in kids[s["id"]])
        s["layer"] = _layer(s, by_id)

    def subtree(root):
        todo, out = [root], []
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids[s["id"]])
        return out

    latency = {r.rid: r.latency for r in primary if r.ok}
    handlers = [s for s in spans
                if s["name"] == "http_service.handler" and s["rid"] in latency]
    per_req = []
    for h in handlers:
        tree = subtree(h)
        layers = defaultdict(float)
        for s in tree:
            layers[s["layer"]] += s["self"]
        layers["http_service.wait"] = latency[h["rid"]] - h["dur"]

        def total(name, key):
            return sum(s["attrs"].get(key, 0) for s in tree if s["name"] == name)

        per_req.append({
            "rid": h["rid"],
            "layers": layers,
            "latency": latency[h["rid"]],
            "tracer_s": requests.get(h["rid"], {}).get("tracer_s", 0.0),
            "response_bytes": h["attrs"].get("response_bytes", 0),
            "list_calls": sum(1 for s in tree if s["name"] == "sources.catalog.list"),
            "files_selected": total("sources.catalog.list", "files_selected"),
            "bytes_selected": total("sources.reader.read", "bytes_selected"),
            "rows_selected": total("sources.reader.read", "rows_selected"),
            "rows_out": total("queries.weather.exec", "rows_out"),
        })

    def layer_mean(name):
        return _mean(r["layers"].get(name, 0.0) for r in per_req)

    # Spark counts over the probe: a fixed, seed-determined request
    # sequence sent by one client, so they repeat exactly between runs
    counted = [v for k, v in sorted(requests.items()) if k.startswith("probe-")]

    def named(prefix):
        return [s for s in spans if s["name"].startswith(prefix)]

    cycles = named("daemon.cycle")
    n_cycles = max(len(cycles), 1)
    writes = named("sources.writer.write")
    adds = named("eventstore.store.add_entries")
    add_ids = {s["id"] for s in adds}
    rewrites = [s for s in named("eventstore.store.overwrite")
                if s["parent"] in add_ids]
    scoring = named("etl.scoring_cycle")
    rows_out = sum(r["rows_out"] for r in per_req)
    m = {
        "http_service.encode_s": layer_mean("http_service.encode"),
        "http_service.wait_s": layer_mean("http_service.wait"),
        "http_service.response_bytes": _mean(r["response_bytes"] for r in per_req),
        "sources.catalog.list_s": layer_mean("sources.catalog"),
        "sources.catalog.list_calls": _mean(r["list_calls"] for r in per_req),
        "sources.catalog.files_selected": _mean(r["files_selected"] for r in per_req),
        "sources.reader.read_s": layer_mean("sources.reader"),
        "sources.reader.bytes_selected": _mean(r["bytes_selected"] for r in per_req),
        "queries.weather.plan_s": layer_mean("queries.weather.plan"),
        "queries.weather.exec_s": layer_mean("queries.weather.exec"),
        "queries.weather.spark_jobs": _mean(c.get("spark_jobs", 0) for c in counted),
        "queries.weather.spark_tasks": _mean(c.get("spark_tasks", 0) for c in counted),
        "queries.weather.rows_out": _mean(r["rows_out"] for r in per_req),
        "queries.weather.rows_scanned_per_row_out": (
            sum(r["rows_selected"] for r in per_req) / rows_out if rows_out else 0.0
        ),
        "daemon.cycle_s": _mean(s["dur"] for s in cycles),
        "sources.xml_ingest.parse_s":
            sum(s["dur"] for s in named("sources.xml_ingest.parse")) / n_cycles,
        "sources.writer.write_s": sum(s["dur"] for s in writes) / n_cycles,
        "sources.writer.bytes_written":
            sum(s["attrs"].get("bytes_written", 0) for s in writes) / n_cycles,
        "sources.writer.bytes_per_row": (
            sum(s["attrs"].get("bytes_written", 0) for s in writes)
            / max(sum(s["attrs"].get("rows_written", 0) for s in writes), 1)
        ),
        "eventstore.store.add_entries_s": _mean(s["dur"] for s in adds),
        "eventstore.store.create_s": _mean(
            s["dur"] for s in named("eventstore.store.create")),
        "eventstore.store.overwrites": float(len(named("eventstore.store.overwrite"))),
        "eventstore.store.bytes_rewritten_per_entry": (
            sum(s["attrs"].get("bytes_rewritten", 0) for s in rewrites)
            / max(sum(s["attrs"].get("entries", 0) for s in adds), 1)
        ),
        "etl.scoring_cycle_s": _mean(s["dur"] for s in scoring),
        "scoring.kernel.score_s": (
            sum(s["self"] for s in spans if s["layer"] == "scoring.kernel")
            / max(len(scoring), 1)
        ),
        "trace.overhead_ratio": (
            traced_p50 / untraced_p50 - 1.0 if untraced_p50 > 0 else 0.0
        ),
    }
    return m, _table(per_req, spans, untraced, untraced_p50, traced_p50)


def _gap(a: float, b: float) -> str:
    return f"{a / b - 1:+.1%}" if b else "n/a"


def _table(per_req: list, spans: list, untraced: list, untraced_p50: float,
           traced_p50: float) -> str:
    """Mean self time per layer over the traced requests. Their sum is the
    mean traced latency by construction (wait_s is the remainder), so the
    check is against the untraced side: the blocking path less the
    tracer's measured bookkeeping should match it."""
    primary = {r["rid"] for r in per_req}
    names = sorted({k for r in per_req for k in r["layers"]})
    n = max(len(per_req), 1)
    lines = [f"primary requests traced: {len(per_req)}",
             f"{'layer':34s} {'self s/request':>14s} {'share':>7s}"]
    mean_lat = sum(r["latency"] for r in per_req) / n
    blocking = 0.0
    for name in names:
        v = sum(r["layers"].get(name, 0.0) for r in per_req) / n
        blocking += v
        share = v / mean_lat if mean_lat else 0.0
        lines.append(f"{name:34s} {v:14.4f} {share:7.1%}")
    book = sum(r["tracer_s"] for r in per_req) / n
    net_p50 = quantile([r["latency"] - r["tracer_s"] for r in per_req], 50)
    ok = [r.latency for r in untraced if r.ok]
    untraced_mean = sum(ok) / len(ok) if ok else 0.0
    lines += [
        f"{'sum along the blocking path':34s} {blocking:14.4f}",
        f"{'  of which tracer bookkeeping':34s} {book:14.4f}",
        f"{'  less bookkeeping':34s} {blocking - book:14.4f}",
        f"{'untraced mean, same slots':34s} {untraced_mean:14.4f}"
        f"  gap {_gap(blocking - book, untraced_mean)}",
        f"{'traced p50 less bookkeeping':34s} {net_p50:14.4f}",
        f"{'untraced p50, same slots':34s} {untraced_p50:14.4f}"
        f"  gap {_gap(net_p50, untraced_p50)}",
        f"{'trace overhead (p50 ratio - 1)':34s} {traced_p50:.4f} / "
        f"{untraced_p50:.4f} s  {_gap(traced_p50, untraced_p50)}",
    ]
    bg = defaultdict(lambda: [0, 0.0])
    for s in spans:
        if s["rid"] not in primary:
            bg[s["layer"]][0] += 1
            bg[s["layer"]][1] += s["self"]
    if bg:
        lines.append("")
        lines.append(f"{'spans outside primary requests':34s} {'spans':>7s} {'self s':>10s}")
        for name, (k, v) in sorted(bg.items()):
            lines.append(f"{name:34s} {k:7d} {v:10.4f}")
    return "\n".join(lines)
