"""The workloads: request mix, setup, gate, timed phase, script.

dashboard_reads   closed loop, nproc clients: small observation reads for
                  1-5 Zipf-skewed stations over 4 h / 24 h / 3 d windows
                  near the newest hour, plus /stations, /files and
                  GET /oracle/events.
ingest_and_score  a fixed script of one simulated hour (daemon cycle,
                  event, entry batch, POST /oracle/update polled to
                  completion) with closed-loop dashboard readers beside it
                  (the dashboard schedule without GET /oracle/events).

The window presets are the reference UI's defaults (BASELINE.md, "UI
default query windows"). The route and window shares, the Zipf exponent,
the lookback and the ingest sizes are assumptions within that mix, not
measured traffic.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
import uuid
from dataclasses import dataclass, field
from datetime import datetime, timedelta
from urllib.parse import urlencode

import numpy as np

import datagen
import gate
from harness import (
    STARTUP_TIMEOUT_S,
    BenchError,
    Child,
    Recorder,
    call,
    closed_loop,
    latency_stats,
    peak_rss_mb,
)

# The dashboard's request schedule: (route, window hours) kinds with their
# counts per 50 requests -- 40% observations, 40% daily observations (UI
# window presets 4 h / 24 h / 3 d at 50/35/15%), 8% /stations, 6% /files
# (a third unwindowed), 6% GET /oracle/events. Kinds are interleaved in a
# fixed order so every run sends the same mix; the seed picks stations and
# how far back each window ends.
DASH_SCHEDULE = (
    ("/stations/observations", 4, 10),
    ("/stations/observations", 24, 7),
    ("/stations/observations", 72, 3),
    ("/stations/daily-observations", 4, 10),
    ("/stations/daily-observations", 24, 7),
    ("/stations/daily-observations", 72, 3),
    ("/stations", None, 4),
    ("/files", 24, 2),
    ("/files", None, 1),
    ("/oracle/events", None, 3),
)


# The readers beside the ingest script send the same schedule without its
# event-store route: an EventStore read that overlaps an EventStore
# mutation can fail (the mutation deletes the table snapshot the read has
# planned over), so GET /oracle/events runs on dashboard_reads, where no
# event is mutated under it, and not beside the script's entry post and
# scoring update.
READER_SCHEDULE = tuple(k for k in DASH_SCHEDULE if k[0] != "/oracle/events")


def _interleave(schedule) -> list[tuple]:
    """Weighted round robin: kind k's j-th slot sits at (j + 0.5) / n_k."""
    slots = [((j + 0.5) / n, i, (route, hours))
             for i, (route, hours, n) in enumerate(schedule) for j in range(n)]
    return [kind for _pos, _i, kind in sorted(slots)]


ZIPF_S = 1.1
INGEST_READERS = 2
DAEMON_STATIONS = 50  # one NDFD batch
ENTRIES_PER_BATCH = 10
DAEMON_CYCLE_TIMEOUT_S = 170.0
PROBE_REQUESTS = 3
PROBE_CLIENT = 1000  # a request stream no load client uses
WARM_LOAD_S = 3.0
# traced runs load the server untraced this long before the ABBA phases, so
# the JIT's early speed-up does not land on the first (untraced) segment
TRACE_WARM_S = 10.0
# tails: the highest percentile a run's sample supports with some margin --
# ~20 timed reads per dashboard run, ~50 reads beside ingest
DASH_TAIL_Q = 75.0
READ_TAIL_Q = 90.0
SERVER_DRIVER_MEM = "2g"
DAEMON_DRIVER_MEM = "1g"


def _fmt(dt: datetime) -> str:
    return dt.strftime("%Y-%m-%dT%H:%M:%SZ")


def uuid7(rng, ms: int) -> str:
    ra = int(rng.integers(0, 1 << 12))
    rb = int(rng.integers(0, 1 << 62))
    return str(uuid.UUID(int=(ms << 80) | (0x7 << 76) | (ra << 64) | (0b10 << 62) | rb))


@dataclass
class Spec:
    """One request: what is sent, and what the gate needs to check it."""

    method: str
    route: str
    kind: str
    params: dict = field(default_factory=dict)
    body: dict | None = None

    @property
    def path(self) -> str:
        q = {}
        for k, v in self.params.items():
            if isinstance(v, datetime):
                q[k] = _fmt(v)
            elif isinstance(v, (list, tuple)):
                q[k] = ",".join(v)
            else:
                q[k] = v
        return self.route + ("?" + urlencode(q) if q else "")


# ---------------------------------------------------------------------------
# request mixes
# ---------------------------------------------------------------------------


class DashboardMix:
    """Dashboard/UI traffic. Each client draws from its own seeded stream;
    `now` is the newest observation hour in the store."""

    def __init__(self, seed: int, st: datagen.Stations, now: datetime,
                 schedule=DASH_SCHEDULE):
        self.seed = seed
        self.ids = st.ids
        n = len(st.ids)
        self.rank = np.random.default_rng([seed, 10]).permutation(n)
        w = 1.0 / np.arange(1, n + 1) ** ZIPF_S
        self.p = w / w.sum()
        self.now = now
        self.rngs: dict[int, np.random.Generator] = {}
        self.cycle = _interleave(schedule)

    def stations(self, rng, k: int) -> list[str]:
        ranks = rng.choice(len(self.ids), size=k, replace=False, p=self.p)
        return [str(self.ids[self.rank[r]]) for r in ranks]

    def window(self, rng, hours: int) -> tuple[datetime, datetime]:
        back = min(int(rng.exponential(3.0)), 12)
        end = self.now - timedelta(hours=back)
        return end - timedelta(hours=hours), end

    def spec(self, client: int, i: int) -> Spec:
        """Client `client`'s i-th request; clients start at evenly spaced
        points of the schedule."""
        return self.slot_spec(client, (i + client * 13) % len(self.cycle))

    def slot_spec(self, client: int, slot: int) -> Spec:
        """A request of the schedule's kind `slot`, drawn from the client's
        stream."""
        rng = self.rngs.setdefault(
            client, np.random.default_rng([self.seed, 20, client])
        )
        route, hours = self.cycle[slot]
        if route in ("/stations/observations", "/stations/daily-observations"):
            start, end = self.window(rng, hours)
            ids = self.stations(rng, int(rng.integers(1, 6)))
            return Spec("GET", route, "read",
                        {"station_ids": ids, "start": start, "end": end})
        if hours is not None:
            start, end = self.window(rng, hours)
            return Spec("GET", route, "read", {"start": start, "end": end})
        return Spec("GET", route, "read")

    def warmups(self) -> list[Spec]:
        rng = np.random.default_rng([self.seed, 30])
        ids = self.stations(rng, 3)
        day = (self.now - timedelta(hours=24), self.now)
        three = (self.now - timedelta(hours=72), self.now)
        return [
            Spec("GET", "/stations/observations", "warmup",
                 {"station_ids": ids, "start": day[0], "end": day[1]}),
            Spec("GET", "/stations/daily-observations", "warmup",
                 {"station_ids": ids, "start": three[0], "end": three[1]}),
            Spec("GET", "/stations", "warmup"),
            Spec("GET", "/files", "warmup", {"start": day[0], "end": day[1]}),
            Spec("GET", "/oracle/events", "warmup"),
        ]


def validate(spec: Spec, r) -> str | None:
    """Shape checks on every timed response."""
    try:
        body = r.json()
    except ValueError:
        return f"{spec.route}: response is not JSON"
    if spec.route in ("/stations/observations", "/stations/daily-observations"):
        want = set(spec.params["station_ids"])
        if not isinstance(body, list) or not body:
            return f"{spec.route}: empty answer for {sorted(want)}"
        bad = {row.get("station_id") for row in body} - want
        if bad:
            return f"{spec.route}: unrequested stations {sorted(bad)[:3]}"
    elif spec.route == "/stations":
        if not isinstance(body, list) or len(body) < datagen.N_STATIONS:
            return f"/stations: {len(body)} rows"
    elif spec.route == "/files":
        if not body.get("file_names"):
            return "/files: no files"
    elif spec.route == "/oracle/events" and not isinstance(body, list):
        return "/oracle/events: not a list"
    return None


# ---------------------------------------------------------------------------
# run context, server lifecycle
# ---------------------------------------------------------------------------


@dataclass
class Context:
    root: str  # the benchmark's work dir inside the checkout
    seed: int
    seconds: float
    trace: bool
    store: str
    manifest: dict
    env: dict
    ops: list = field(default_factory=list)  # (name, ok) of every operation
    failures: list = field(default_factory=list)  # what the failed ones said
    problems: list = field(default_factory=list)  # correctness failures
    notes: dict = field(default_factory=dict)

    def child_env(self, driver_mem: str) -> dict:
        return dict(self.env, SPARK_GRAFT_DRIVER_MEM=driver_mem)

    def count(self, results) -> None:
        for r in results:
            self.ops.append((r.kind, r.ok))
            if not r.ok:
                detail = r.error or r.body[:200].decode(errors="replace")
                self.failures.append(f"{r.kind} {r.rid}: {r.status} {detail}")

    def out_path(self, name: str) -> str:
        return os.path.join(self.root, "out", name)


def start_server(ctx: Context, data_dir: str, events_dir: str,
                 warmups: list[Spec]) -> tuple[Child, int, float, list]:
    """Launch, wait for /health_check, then send one warm-up request per
    route, all at once. Returns (server, port, setup_s, warm-up results)."""
    args = ["--data-dir", data_dir, "--events-dir", events_dir]
    if ctx.trace:
        args.append("--trace")
    t0 = time.perf_counter()
    srv = Child("server.py", args, ctx.child_env(SERVER_DRIVER_MEM),
                ctx.out_path("server.log"))
    try:
        port = srv.read_json(STARTUP_TIMEOUT_S)["port"]
        bound = time.perf_counter() - t0
        r = call(port, "GET", "/health_check", "health", "health")
        if not r.ok:
            raise BenchError(f"health check failed: {r.status} {r.error}")
        ready = time.perf_counter() - t0
        warm = [None] * len(warmups)

        def one(i: int, s: Spec) -> None:
            warm[i] = call(port, s.method, s.path, s.kind, f"w{i}", s.body)

        threads = [threading.Thread(target=one, args=(i, s))
                   for i, s in enumerate(warmups)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        setup_s = time.perf_counter() - t0
        ctx.notes["setup_parts"] = (
            f"bound {bound:.1f} s, healthy {ready:.1f} s, "
            f"warm-ups {', '.join(f'{w.latency:.1f}' for w in warm)} s"
        )
    except BaseException:
        srv.stop()
        raise
    return srv, port, setup_s, warm


def check_warmups(ctx: Context, specs: list[Spec], results: list,
                  store: str, manifest: dict) -> None:
    """The correctness gate on the warm-up responses; an error in the gate
    itself is recorded as a problem, so it fails the run."""
    ctx.count(results)
    for spec, r in zip(specs, results):
        if not r.ok:
            continue  # counted as a failed operation
        try:
            got = r.json()
            if spec.route == "/oracle/events":  # no event exists yet
                problem = f"/oracle/events: {got} != []" if got else None
            else:
                problem = gate.compare(spec.route, got, gate.expected(
                    store, manifest, spec.route, spec.params))
        except Exception as exc:  # noqa: BLE001 -- reported, fails the run
            problem = f"{spec.route}: gate error {type(exc).__name__}: {exc}"
        if problem:
            ctx.problems.append(problem)


def timed_loop(ctx: Context, port: int, n_clients: int, make_spec,
               seconds: float, prefix: str) -> tuple[list, float]:
    """Closed loop for `seconds`; returns (results, start time). Requests
    in flight at the deadline still count toward latency."""
    rec = Recorder()
    stop = threading.Event()
    timer = threading.Timer(seconds, stop.set)
    t0 = time.perf_counter()
    timer.start()
    closed_loop(port, n_clients, make_spec, stop, rec, validate, prefix)
    timer.cancel()
    ctx.problems.extend(rec.invalid[:5])
    return rec.results, t0


def traced_phases(ctx: Context, srv: Child, port: int, n_clients: int,
                  mix: DashboardMix) -> dict:
    """The untraced and the traced side each send every slot of the
    schedule once, so both sides carry the whole mix. They run in ABBA
    order by halves of the schedule (untraced and traced send the first
    half, then traced and untraced the second), so a linear drift lands on
    both sides equally. Within a half the clients take its slots in turn."""
    n = len(mix.cycle)
    halves = ((0, n // 2), (n // 2, n))
    order = (("untraced", halves[0]), ("traced", halves[0]),
             ("traced", halves[1]), ("untraced", halves[1]))
    warm, _t0 = timed_loop(ctx, port, n_clients, mix.spec, TRACE_WARM_S, "tw")
    ctx.count(warm)
    sides: dict[str, list] = {"untraced": [], "traced": []}
    for k, (side, (lo, hi)) in enumerate(order):
        srv.send(f"trace {'on' if side == 'traced' else 'off'}")

        def make_spec(c: int, i: int, lo=lo, hi=hi) -> Spec | None:
            slot = lo + c + n_clients * i
            return mix.slot_spec(c, slot) if slot < hi else None

        rec = Recorder()
        closed_loop(port, n_clients, make_spec, threading.Event(), rec,
                    validate, f"{side[0]}{k}")
        ctx.problems.extend(rec.invalid[:5])
        ctx.count(rec.results)
        sides[side].extend(rec.results)
    srv.send("trace on")
    return {"untraced_results": sides["untraced"],
            "traced_results": sides["traced"]}


def spark_probe(ctx: Context, port: int, make_spec) -> None:
    """Traced runs: a fixed sequence of requests from one client (its own
    seeded stream), whose Spark job and task counts are reported."""
    for i in range(PROBE_REQUESTS):
        s = make_spec(PROBE_CLIENT, i)
        r = call(port, s.method, s.path, s.kind, f"probe-{i}", s.body)
        ctx.count([r])


def window_stats(results: list, t0: float, seconds: float, tail_q: float) -> dict:
    """Latency over every request started in the window; throughput as the
    requests' worth of work done inside it (each request counts with the
    share of its duration that falls in the window), per second."""
    stats = latency_stats(results, tail_q, seconds)
    t1 = t0 + seconds
    done = sum(
        (min(r.start + r.latency, t1) - max(r.start, t0)) / r.latency
        for r in results if r.ok and r.latency > 0
    )
    stats["rps"] = done / seconds
    return stats


def _create_event(ctx: Context, port: int, rng, rid: str):
    ids = [str(s) for s in rng.choice(datagen.Stations(ctx.seed).ids[:500],
                                      size=5, replace=False)]
    start = int((datagen.D0 + timedelta(hours=24)).timestamp())
    body = {
        "id": uuid7(rng, 1_768_000_000_000 + int(rng.integers(0, 10**9))),
        "total_allowed_entries": 25,
        "number_of_places_win": 3,
        "number_of_values_per_entry": 6,
        "signing_date": start + 86400,
        "start_observation_date": start,
        "end_observation_date": start + 86400,
        "locations": ids,
        "scoring_fields": ["temp_high", "temp_low", "wind_speed"],
    }
    r = call(port, "POST", "/oracle/events", "event_create", rid, body)
    return body, r


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


def dashboard_reads(ctx: Context) -> dict:
    mix = DashboardMix(ctx.seed, datagen.Stations(ctx.seed), datagen.data_end())
    events = ctx.out_path("events")
    shutil.rmtree(events, ignore_errors=True)
    n = os.cpu_count()
    warm_specs = mix.warmups()
    srv, port, setup_s, warm = start_server(ctx, ctx.store, events, warm_specs)
    out: dict = {"setup_s": setup_s, "clients": n}
    try:
        check_warmups(ctx, warm_specs, warm, ctx.store, ctx.manifest)
        # The JIT keeps compiling for a while after the warm-ups, so the
        # closed loop runs WARM_LOAD_S untimed first (the dashboard's one
        # event is created meanwhile). The timed loop then restarts every
        # client at its own point of the schedule, so each run's timed
        # window sends the same request mix.
        prep = threading.Thread(target=_prep_event, args=(ctx, port))
        prep.start()
        warm, _t0 = timed_loop(ctx, port, n, mix.spec, WARM_LOAD_S, "w")
        ctx.count(warm)
        prep.join()
        if ctx.trace:
            out.update(traced_phases(ctx, srv, port, n, mix))
        else:
            results, t0 = timed_loop(ctx, port, n, mix.spec, ctx.seconds, "")
            ctx.count(results)
            out["primary"] = window_stats(results, t0, ctx.seconds, DASH_TAIL_Q)
        srv.snapshot_tree()
        out["peak_rss_mb"] = peak_rss_mb(srv.proc.pid)
        if ctx.trace:
            spark_probe(ctx, port, mix.spec)
            out["span_files"] = [_dump_spans(ctx, srv, "server")]
    finally:
        srv.stop()
    out["names"] = {"p50_s": "read_p50_s", "tail_s": "read_p75_s",
                    "ops_per_s": "read_rps"}
    return out


def _prep_event(ctx: Context, port: int) -> None:
    _body, r = _create_event(ctx, port, np.random.default_rng([ctx.seed, 50]),
                             "prep-event")
    ctx.count([r])


def _dump_spans(ctx: Context, child: Child, name: str) -> str:
    path = ctx.out_path(f"{name}.spans.json")
    child.send(f"dump {path}")
    child.read_json(120)
    return path


def ingest_and_score(ctx: Context) -> dict:
    st = datagen.Stations(ctx.seed)
    # every run starts from a fresh copy of the store and no events
    store = ctx.out_path("ingest_store")
    events = ctx.out_path("events")
    shutil.rmtree(store, ignore_errors=True)
    shutil.rmtree(events, ignore_errors=True)
    shutil.copytree(ctx.store, store,
                    ignore=shutil.ignore_patterns("_manifest.json"))
    mix = DashboardMix(ctx.seed, st, datagen.data_end())

    daemon_args = ["--data-dir", store, "--seed", str(ctx.seed),
                   "--stations", str(DAEMON_STATIONS)]
    if ctx.trace:
        daemon_args.append("--trace")
    dmn = Child("daemon_proc.py", daemon_args,
                ctx.child_env(DAEMON_DRIVER_MEM), ctx.out_path("daemon.log"))
    out: dict = {"clients": INGEST_READERS}
    try:
        # the daemon is up before the server starts, so setup_s is the
        # server's alone
        dmn.read_json(STARTUP_TIMEOUT_S)
        warm_specs = mix.warmups()
        srv, port, setup_s, warm = start_server(ctx, store, events, warm_specs)
        out["setup_s"] = setup_s
        try:
            check_warmups(ctx, warm_specs, warm, ctx.store, ctx.manifest)
            if ctx.trace:  # the read layers, loaded as on dashboard_reads
                out.update(traced_phases(ctx, srv, port, os.cpu_count(), mix))
            out.update(_ingest_script(ctx, port, dmn))
            srv.snapshot_tree()
            out["peak_rss_mb"] = peak_rss_mb(srv.proc.pid)
            _ingest_gate(ctx, port, store, events, out)
            if ctx.trace:
                spark_probe(ctx, port, mix.spec)
                out["span_files"] = [_dump_spans(ctx, srv, "server"),
                                     _dump_spans(ctx, dmn, "daemon")]
        finally:
            srv.stop()
    finally:
        dmn.stop()
    out["names"] = {"p50_s": "read_p50_s", "tail_s": "read_p90_s",
                    "ops_per_s": "script_ops_per_s"}
    return out


def _ingest_script(ctx: Context, port: int, dmn: Child) -> dict:
    """One simulated hour, one step after another: the daemon lands the
    hour's snapshots, an event is created, then a batch of entries is
    posted and a scoring update is polled to the end while the readers
    run the dashboard schedule, less its event-store route, against the
    grown store. The script's rate (completed steps per
    second of script time) is the workload's ops_per_s, so every step's
    layers move a gated metric; the readers give p50_s and tail_s."""
    rng = np.random.default_rng([ctx.seed, 60])
    hour = datagen.data_end() + timedelta(hours=1)
    t0 = time.perf_counter()
    dmn.send(f"cycle {hour.isoformat()}")
    reply = dmn.read_json(DAEMON_CYCLE_TIMEOUT_S)
    landed = list(reply["paths"].values())
    if len(landed) != 2:
        ctx.problems.append(f"daemon landed {landed}")
    body, create = _create_event(ctx, port, rng, "event")
    # readers favour the newest landed hour
    readers_mix = DashboardMix(ctx.seed, datagen.Stations(ctx.seed), hour,
                               READER_SCHEDULE)
    rec = Recorder()
    stop = threading.Event()
    readers = threading.Thread(
        target=closed_loop,
        args=(port, INGEST_READERS, readers_mix.spec, stop, rec, validate, "r"),
    )
    t_read = time.perf_counter()
    readers.start()
    posted, entry_post = [], None
    try:
        if create.ok:
            entries = [_entry(rng, body["locations"])
                       for _ in range(ENTRIES_PER_BATCH)]
            entry_post = call(port, "POST", f"/oracle/events/{body['id']}/entries",
                              "entry_write", "entries", {"entries": entries})
            if entry_post.ok:
                posted = [x["id"] for x in entries]
        update_ok, update = _score_update(port, "update")
    finally:
        stop.set()
        readers.join()
    read_s = time.perf_counter() - t_read
    script_s = time.perf_counter() - t0
    entry_ok = bool(entry_post and entry_post.ok)
    # a cycle either lands (what it landed is gated) or ends the daemon
    done = 1 + create.ok + entry_ok + update_ok
    ctx.count([create] + ([entry_post] if entry_post else []) + rec.results)
    ctx.ops.extend([("ingest_cycle", True), ("score_update", update_ok)])
    if not update_ok:
        ctx.failures.append(f"score_update: {update}")
    ctx.problems.extend(rec.invalid[:5])
    stats = latency_stats(rec.results, READ_TAIL_Q, read_s)
    read_rps = stats["rps"]
    stats["rps"] = done / script_s
    stats["ops_note"] = f"{done} of 4 script steps in {script_s:.1f} s"
    nan = float("nan")
    return {
        "primary": stats,
        # reported only: (name, value, unit, samples)
        "extra": [
            ("ingest_cycle_s", reply["cycle_s"], "s", 1),
            ("event_create_s", create.latency if create.ok else nan, "s", 1),
            ("entry_write_p50_s",
             entry_post.latency if entry_ok else nan, "s",
             int(entry_post is not None)),
            ("score_update_s", update if update_ok else nan, "s", 1),
            ("script_s", script_s, "s", 1),
            ("read_rps", read_rps, "1/s", len(rec.results)),
        ],
        "landed": landed,
        "posted_entries": posted,
    }


def _entry(rng, locations: list[str]) -> dict:
    picks = rng.choice(locations, size=3, replace=False)
    opts = ["over", "par", "under"]
    return {
        "id": uuid7(rng, 1_768_000_000_000 + int(rng.integers(0, 10**9))),
        "choices": [
            {"station": str(s), "temp_high": str(rng.choice(opts)),
             "temp_low": str(rng.choice(opts))}
            for s in picks
        ],
    }


def _score_update(port: int, rid: str) -> tuple[bool, float | str]:
    """POST /oracle/update and poll until the task leaves `running`.
    Returns (ok, seconds to completion or what went wrong)."""
    t0 = time.perf_counter()
    r = call(port, "POST", "/oracle/update", "score_update", rid)
    if not r.ok:
        return False, f"{r.status} {r.error or r.body[:200]!r}"
    pid = r.json()["etl_process_id"]
    deadline = t0 + DAEMON_CYCLE_TIMEOUT_S
    while time.perf_counter() < deadline:
        s = call(port, "GET", f"/oracle/update/{pid}", "poll", f"{rid}-poll")
        if s.ok and s.json()["state"] != "running":
            state = s.json()
            if state["state"] == "completed":
                return True, time.perf_counter() - t0
            return False, str(state.get("error"))[:200]
        time.sleep(0.1)
    return False, "timed out"


def _ingest_gate(ctx: Context, port: int, store: str, events: str,
                 out: dict) -> None:
    """Every landed snapshot is listed and canonical; every entry scored."""
    import pyarrow.parquet as pq

    from noaa_oracle_spark.schemas import FORECASTS_SCHEMA, OBSERVATIONS_SCHEMA

    r = call(port, "GET", "/files", "read", "gate-files")
    ctx.count([r])
    if r.ok:
        listed = set(r.json()["file_names"])
        want = {os.path.basename(f["path"]) for f in ctx.manifest["files"]}
        want |= {os.path.basename(p) for p in out["landed"]}
        if listed != want:
            ctx.problems.append(
                f"/files after ingest: missing {sorted(want - listed)[:3]}, "
                f"unexpected {sorted(listed - want)[:3]}"
            )
    canon = {"observations": OBSERVATIONS_SCHEMA.names,
             "forecasts": FORECASTS_SCHEMA.names}
    for p in out["landed"]:
        kind = os.path.basename(p).split("_", 1)[0]
        meta = pq.ParquetFile(p)
        if meta.schema_arrow.names != canon[kind] or meta.metadata.num_rows == 0:
            ctx.problems.append(f"landed {os.path.basename(p)}: non-canonical")
    table = os.path.join(events, "events_entries", "current.parquet")
    scores = {}
    if os.path.exists(table):
        t = pq.read_table(table, columns=["id", "score"])
        scores = dict(zip(t.column("id").to_pylist(), t.column("score").to_pylist()))
    unscored = [e for e in out["posted_entries"] if scores.get(e) is None]
    if unscored:
        ctx.problems.append(f"{len(unscored)} entries have no score")


WORKLOADS = {
    "dashboard_reads": dashboard_reads,
    "ingest_and_score": ingest_and_score,
}
