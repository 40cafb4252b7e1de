"""In-memory span tracer installed around the program's public entry points.

`install(spark)` wraps, without editing any program file:

- the HTTP handler's do_GET/do_POST (through http_service.make_handler),
  its `_send` (response bytes) and http_service._rows_json (encoding);
- service.*_request (plan building; the returned DataFrame is tagged so
  its collect is attributed to queries.weather);
- SnapshotCatalog.list_paths / all_paths and read_snapshots;
- DataFrame.collect;
- CollectionCycle.run_once, dwml_to_readings, metar_to_df, write_snapshot;
- the EventStore mutations and EventStore._overwrite (bytes rewritten);
- etl.run_scoring_cycle and the scoring kernel's score_entries.

A span is (id, parent, request id, name, start, end, attrs). Spans stay in
memory until `dump(path)`, which also resolves each request's Spark job
group to job and task counts through the status tracker. The tracer times
its own bookkeeping (span records, job groups, counting bytes and rows) on
each request's thread and reports it per request as `tracer_s`.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time

REQUEST_HEADER = "X-Request-Id"


def _tree_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    if os.path.isfile(path):
        return pq.ParquetFile(path).metadata.num_rows
    return sum(
        pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
        for root, _d, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.enabled = False
        self.spans: list[dict] = []
        self.groups: dict[str, str] = {}  # request id -> spark job group
        self.costs: dict[str, float] = {}  # request id -> bookkeeping s
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._file_rows: dict[str, int] = {}

    # -- span recording -----------------------------------------------------

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _rid(self) -> str:
        rid = getattr(self._local, "rid", None)
        return rid or f"bg-{threading.current_thread().name}"

    def charge(self, seconds: float) -> None:
        """Add tracer bookkeeping time to the current thread's request."""
        self._local.cost = getattr(self._local, "cost", 0.0) + seconds

    def run(self, name: str, fn, args, kwargs, after=None, attrs=None):
        """Call fn inside a span; `after(result, attrs)` may add counts."""
        if not self.enabled:
            return fn(*args, **kwargs)
        t_in = time.perf_counter()
        stack = self._stack()
        span = {
            "id": next(self._ids),
            "parent": stack[-1]["id"] if stack else None,
            "rid": self._rid(),
            "name": name,
            "attrs": dict(attrs or {}),
        }
        stack.append(span)
        span["start"] = time.perf_counter()
        try:
            result = fn(*args, **kwargs)
        except BaseException as exc:
            span["attrs"]["error"] = type(exc).__name__
            raise
        finally:
            span["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(span)
        if after is not None:
            after(result, span["attrs"])
        self.charge(time.perf_counter() - span["end"] + span["start"] - t_in)
        return result

    def wrap(self, owner, attr: str, name: str, after=None, tag=None):
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            result = tracer.run(name, orig, args, kwargs, after)
            if tag is not None and tracer.enabled:
                result._perfbench_layer = tag
            return result

        setattr(owner, attr, wrapper)

    # -- per-request context --------------------------------------------------

    def handle(self, handler, method: str, orig) -> None:
        if not self.enabled:
            return orig(handler)
        t_in = time.perf_counter()
        rid = handler.headers.get(REQUEST_HEADER) or f"anon-{next(self._ids)}"
        group = f"perfbench-{rid}"
        self._local.rid = rid
        self._local.resp_bytes = 0
        self.sc.setJobGroup(group, rid, False)
        with self._lock:
            self.groups[rid] = group
        path = handler.path.split("?", 1)[0]
        self._local.cost = time.perf_counter() - t_in

        def sent(_result, attrs):
            attrs["response_bytes"] = self._local.resp_bytes

        try:
            self.run(
                "http_service.handler",
                orig,
                (handler,),
                {},
                after=sent,
                attrs={"method": method, "path": path},
            )
        finally:
            t_out = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._local.rid = None
            self.charge(time.perf_counter() - t_out)
            with self._lock:
                self.costs[rid] = self._local.cost

    def add_response_bytes(self, n: int) -> None:
        if self.enabled:
            self._local.resp_bytes = getattr(self._local, "resp_bytes", 0) + n

    def file_rows(self, paths) -> int:
        total = 0
        for p in paths:
            if p not in self._file_rows:
                self._file_rows[p] = _parquet_rows(p)
            total += self._file_rows[p]
        return total

    # -- output ---------------------------------------------------------------

    def spark_counts(self) -> dict[str, dict]:
        tracker = self.sc.statusTracker()
        out = {}
        for rid, group in self.groups.items():
            jobs = tracker.getJobIdsForGroup(group)
            tasks = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                for s in info.stageIds if info else ():
                    st = tracker.getStageInfo(s)
                    if st is not None:
                        tasks += st.numCompletedTasks
            out[rid] = {"spark_jobs": len(jobs), "spark_tasks": tasks,
                        "tracer_s": self.costs.get(rid, 0.0)}
        return out

    def dump(self, path: str) -> None:
        with self._lock:
            spans = list(self.spans)
        with open(path, "w") as f:
            json.dump({"spans": spans, "requests": self.spark_counts()}, f)


def install(spark) -> Tracer:
    # the session's frames are the classic subclass, which overrides collect
    from pyspark.sql.classic.dataframe import DataFrame

    from noaa_oracle_spark import daemon, etl, http_service, service
    from noaa_oracle_spark.eventstore.store import EventStore
    from noaa_oracle_spark.sources import catalog, reader, writer, xml_ingest

    t = Tracer(spark)

    # http_service: handler entry points, response bytes, JSON encoding
    make_handler = http_service.make_handler

    @functools.wraps(make_handler)
    def traced_make_handler(*args, **kwargs):
        cls = make_handler(*args, **kwargs)
        get, post, send = cls.do_GET, cls.do_POST, cls._send
        cls.do_GET = lambda self: t.handle(self, "GET", get)
        cls.do_POST = lambda self: t.handle(self, "POST", post)

        def _send(self, status, body, *a, **kw):
            t.add_response_bytes(len(body))
            return send(self, status, body, *a, **kw)

        cls._send = _send
        return cls

    http_service.make_handler = traced_make_handler
    t.wrap(http_service, "_rows_json", "http_service.encode")

    # service: one span per request function; weather frames are tagged
    for fn in (
        "stations_request", "observations_request",
        "daily_observations_request", "forecasts_request",
    ):
        t.wrap(service, fn, f"service.{fn}", tag="queries.weather")
    t.wrap(service, "files_request", "service.files_request")

    # sources.catalog
    def files_selected(result, attrs):
        attrs["files_selected"] = len(result)

    for fn in ("list_paths", "all_paths"):
        t.wrap(catalog.SnapshotCatalog, fn, "sources.catalog.list",
               after=files_selected)

    # sources.reader (service imported the name, so patch both bindings)
    read_orig = reader.read_snapshots

    @functools.wraps(read_orig)
    def traced_read(spark_, paths, *a, **kw):
        attrs = {}
        if t.enabled:
            t0 = time.perf_counter()
            local = [p for p in paths if os.path.exists(p)]
            attrs = {
                "files": len(paths),
                "bytes_selected": sum(_tree_bytes(p) for p in local),
                "rows_selected": t.file_rows(local),
            }
            t.charge(time.perf_counter() - t0)
        return t.run("sources.reader.read", read_orig,
                     (spark_, paths) + a, kw, attrs=attrs)

    reader.read_snapshots = traced_read
    service.read_snapshots = traced_read

    # DataFrame.collect: named after the layer that built the frame
    collect = DataFrame.collect

    def traced_collect(self):
        layer = getattr(self, "_perfbench_layer", None)
        name = f"{layer}.exec" if layer else "spark.collect"

        def rows_out(result, attrs):
            attrs["rows_out"] = len(result)

        return t.run(name, collect, (self,), {}, after=rows_out)

    DataFrame.collect = traced_collect

    # daemon, sources.xml_ingest, sources.writer
    t.wrap(daemon.CollectionCycle, "run_once", "daemon.cycle")
    t.wrap(xml_ingest, "dwml_to_readings", "sources.xml_ingest.parse")
    t.wrap(xml_ingest, "metar_to_df", "sources.xml_ingest.parse")

    def written(result, attrs):
        attrs["bytes_written"] = _tree_bytes(result)
        attrs["rows_written"] = _parquet_rows(result)

    t.wrap(writer, "write_snapshot", "sources.writer.write", after=written)

    # eventstore.store: mutations + every table rewrite
    for fn, name in (
        ("create_event", "eventstore.store.create"),
        ("update_entry_scores", "eventstore.store.update_scores"),
        ("update_event_attestation", "eventstore.store.attest"),
    ):
        t.wrap(EventStore, fn, name)
    overwrite = EventStore._overwrite

    def traced_overwrite(self, table, df):
        def rewritten(_result, attrs):
            attrs["bytes_rewritten"] = _tree_bytes(self._table_path(table))
            attrs["table"] = table

        return t.run("eventstore.store.overwrite", overwrite,
                     (self, table, df), {}, after=rewritten)

    EventStore._overwrite = traced_overwrite
    orig_add = EventStore.add_entries

    def add_entries(self, event_id, entries):
        return t.run("eventstore.store.add_entries", orig_add,
                     (self, event_id, entries), {},
                     attrs={"entries": len(entries)})

    EventStore.add_entries = add_entries

    # etl + scoring.kernel (etl imported score_entries by name)
    t.wrap(etl, "run_scoring_cycle", "etl.scoring_cycle")
    t.wrap(etl, "score_entries", "scoring.kernel.score", tag="scoring.kernel")
    return t
