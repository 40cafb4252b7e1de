"""HTTP twin end-to-end: real sockets, real requests, fixture snapshots.

Drives every route of noaa_oracle_spark.http_service through urllib against
the same weather fixtures the CLI/service tests use, asserting the
reference's request/response shapes: JSON array bodies, {"file_names":[..]}
for /files, parquet bytes + attachment disposition for /file/{name}, 400 on
bad RFC3339 / missing station_ids / bad filename timestamps, 404 on unknown
routes and missing files.
"""

from __future__ import annotations

import json
import os
import urllib.error
import urllib.request

import pytest

from noaa_oracle_spark import service
from noaa_oracle_spark.http_service import serve_background
from tests.weather_fixtures import (
    write_forecast_fixtures,
    write_observation_fixtures,
)

WINDOW = "start=2026-01-15T00:00:00Z&end=2026-01-18T00:00:00Z"


@pytest.fixture(scope="module")
def server(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("http_weather"))
    write_observation_fixtures(d)
    write_forecast_fixtures(d)
    srv, _ = serve_background(spark, d)
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    yield base, d
    srv.shutdown()
    srv.server_close()


def _get(url: str):
    with urllib.request.urlopen(url, timeout=60) as resp:
        return resp.status, dict(resp.headers), resp.read()


def _get_json(url: str):
    status, headers, body = _get(url)
    assert status == 200
    assert headers["Content-Type"].startswith("application/json")
    return json.loads(body)


def _status_of(url: str) -> tuple[int, str]:
    try:
        status, _, body = _get(url)
        return status, body.decode()
    except urllib.error.HTTPError as exc:
        return exc.code, exc.read().decode()


def test_health_check(server):
    base, _ = server
    assert _get(f"{base}/health_check")[0] == 200


def test_stations_shape(server, spark):
    base, d = server
    rows = _get_json(f"{base}/stations")
    expected = [r.asDict() for r in service.stations_request(spark, d).collect()]
    assert {r["station_id"] for r in rows} == {
        e["station_id"] for e in expected
    }
    # serde field names of the reference Station struct
    assert set(rows[0]) >= {
        "station_id", "station_name", "latitude", "longitude",
    }


def test_observations_match_service(server, spark):
    from datetime import datetime, timezone

    base, d = server
    rows = _get_json(
        f"{base}/stations/observations?station_ids=KATL,KBOS&{WINDOW}"
        "&temperature_unit=fahrenheit"
    )
    direct = {
        r["station_id"]: r.asDict()
        for r in service.observations_request(
            spark, d, ["KATL", "KBOS"],
            datetime(2026, 1, 15, tzinfo=timezone.utc),
            datetime(2026, 1, 18, tzinfo=timezone.utc),
            "fahrenheit",
        ).collect()
    }
    assert rows and {r["station_id"] for r in rows} == set(direct)
    for r in rows:
        assert r["temp_high"] == direct[r["station_id"]]["temp_high"]


def test_forecasts_and_daily(server):
    base, _ = server
    fc = _get_json(
        f"{base}/stations/forecasts?station_ids=KATL,KSEA,KBOS&{WINDOW}"
    )
    assert fc and all("station_id" in r for r in fc)
    daily = _get_json(
        f"{base}/stations/daily-observations?station_ids=KATL,KBOS&{WINDOW}"
    )
    assert daily and all("station_id" in r for r in daily)


def test_default_unit_is_fahrenheit(server):
    base, _ = server
    bare = _get_json(
        f"{base}/stations/observations?station_ids=KATL&{WINDOW}"
    )
    explicit = _get_json(
        f"{base}/stations/observations?station_ids=KATL&{WINDOW}"
        "&temperature_unit=fahrenheit"
    )
    assert bare == explicit


def test_files_listing_and_kind_flags(server):
    base, _ = server
    allf = _get_json(f"{base}/files")["file_names"]
    assert allf and all(name.endswith(".parquet") for name in allf)
    assert all("/" not in name for name in allf)  # bare names, not paths
    obs_only = _get_json(f"{base}/files?observations=true&forecasts=false")[
        "file_names"
    ]
    assert obs_only and all(n.startswith("observations_") for n in obs_only)
    fc_only = _get_json(f"{base}/files?observations=false&forecasts=true")[
        "file_names"
    ]
    assert fc_only and all(n.startswith("forecasts_") for n in fc_only)
    assert set(allf) == set(obs_only) | set(fc_only)


def test_file_download_round_trip(server):
    base, d = server
    name = _get_json(f"{base}/files?observations=true&forecasts=false")[
        "file_names"
    ][0]
    status, headers, body = _get(f"{base}/file/{name}")
    assert status == 200
    assert headers["Content-Type"] == "application/parquet"
    assert name in headers["Content-Disposition"]
    assert body[:4] == b"PAR1"  # real parquet bytes
    import glob
    import os

    on_disk = glob.glob(os.path.join(d, "*", name))[0]
    assert body == open(on_disk, "rb").read()


def test_error_shapes(server):
    base, _ = server
    # missing required station_ids → 400 (axum query rejection)
    code, msg = _status_of(f"{base}/stations/observations?{WINDOW}")
    assert code == 400 and "station_ids" in msg
    # bad RFC3339 → 400 (weather_routes BAD_REQUEST)
    code, msg = _status_of(
        f"{base}/stations/observations?station_ids=KATL&start=yesterday"
        "&end=2026-01-18T00:00:00Z"
    )
    assert code == 400 and "RFC3339" in msg
    # bad temperature unit → 400
    code, _ = _status_of(
        f"{base}/stations/observations?station_ids=KATL&{WINDOW}"
        "&temperature_unit=kelvin"
    )
    assert code == 400
    # filename without a parseable RFC3339 timestamp → 400 (download.rs)
    code, msg = _status_of(f"{base}/file/observations_nottime.parquet")
    assert code == 400 and "rfc3339" in msg.lower()
    # well-formed name but absent file → 404
    code, _ = _status_of(
        f"{base}/file/observations_2030-01-01T00_00_00%2B00_00.parquet"
    )
    assert code == 404
    # unknown route → 404
    assert _status_of(f"{base}/nope")[0] == 404


def test_file_upload_round_trip(server):
    base, d = server
    payload = b"PAR1" + b"\x01\x02\x03fakebody" + b"PAR1"
    name = "observations_2026-02-01T09_00_00%2B00_00.parquet"
    boundary = "XBOUNDARYX"
    body = (
        f"--{boundary}\r\n"
        'Content-Disposition: form-data; name="file"; filename="f"\r\n'
        "Content-Type: application/octet-stream\r\n\r\n"
    ).encode() + payload + f"\r\n--{boundary}--\r\n".encode()
    req = urllib.request.Request(
        f"{base}/file/{name}",
        data=body,
        method="POST",
        headers={
            "Content-Type": f"multipart/form-data; boundary={boundary}"
        },
    )
    with urllib.request.urlopen(req, timeout=60) as resp:
        assert resp.status == 200
    # it landed in the right date dir and serves back byte-identical
    import os

    decoded = "observations_2026-02-01T09_00_00+00_00.parquet"
    assert os.path.isfile(os.path.join(d, "2026-02-01", decoded))
    status, headers, got = _get(f"{base}/file/{name}")
    assert status == 200 and got == payload
    # and the catalog lists it for its window
    names = _get_json(
        f"{base}/files?start=2026-02-01T00:00:00Z&end=2026-02-02T00:00:00Z"
        "&observations=true&forecasts=false"
    )["file_names"]
    assert decoded in names


def test_file_upload_rejects_bad_names(server):
    base, _ = server
    # ".." normalizes away from the /file/ prefix entirely -> 404; the
    # others reach the handler and fail name validation -> 400
    for bad, want in (
        ("observations_nottime.parquet", {400}),
        ("..", {400, 404}),
        ("nope.txt", {400}),
    ):
        req = urllib.request.Request(
            f"{base}/file/{bad}", data=b"x", method="POST"
        )
        try:
            with urllib.request.urlopen(req, timeout=60) as resp:
                code = resp.status
        except urllib.error.HTTPError as exc:
            code = exc.code
        assert code in want, bad


# ---------------------------------------------------------------------------
# /oracle event routes + POST /oracle/update async-task contract
# ---------------------------------------------------------------------------


def _post_json(url: str, obj):
    req = urllib.request.Request(
        url,
        data=json.dumps(obj).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    with urllib.request.urlopen(req, timeout=120) as resp:
        return resp.status, json.loads(resp.read())


@pytest.fixture(scope="module")
def oracle_server(spark, tmp_path_factory):
    """Twin with the GOLDEN mock weather injected through the
    WeatherAccess seam — the same fixtures the reference's e2e ETL test
    uses (etl_workflow.rs:62-392), so scored entries are exactly the
    golden scores."""
    from tests.test_scoring_golden import weather_values

    d = str(tmp_path_factory.mktemp("http_oracle"))

    def provider(spark_, data_dir_, ev, now=None):
        return weather_values()

    srv, _ = serve_background(spark, d, weather_provider=provider)
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()
    srv.server_close()


def test_oracle_event_lifecycle_over_sockets(oracle_server):
    """create-event → entries → update (async poll) → scored entries,
    entirely over HTTP — the reference flow oracle_routes.rs serves."""
    import time

    from tests.test_eventstore_etl import (
        CHOICES,
        EVENT_ID,
        EXPECTED,
        _ts,
    )

    base = oracle_server
    # POST /oracle/events
    status, ev = _post_json(
        f"{base}/oracle/events",
        {
            "id": EVENT_ID,
            "total_allowed_entries": 4,
            "number_of_places_win": 3,
            "number_of_values_per_entry": 6,
            "signing_date": _ts("2024-08-13T03:00:00Z"),
            "start_observation_date": "2024-08-12T00:00:00Z",  # RFC3339 form
            "end_observation_date": _ts("2024-08-13T00:00:00Z"),
            "locations": ["PFNO", "KSAW", "PAPG", "KWMC"],
        },
    )
    assert status == 200 and ev["id"] == EVENT_ID
    # duplicate create → 400 (store validation mirrored to BAD_REQUEST)
    st, body = _status_of(f"{base}/oracle/events/{EVENT_ID}")
    assert st == 200
    # GET list contains it with a status
    listed = _get_json(f"{base}/oracle/events")
    assert [e["id"] for e in listed] == [EVENT_ID]
    assert listed[0]["status"] in ("live", "running", "completed")

    # POST entries (golden set)
    by_entry: dict[str, list[dict]] = {}
    for row in CHOICES:
        (eid, station, tl, th, ws, wd, ra, sa, hu) = row
        by_entry.setdefault(eid, []).append(
            {
                "station": station, "temp_low": tl, "temp_high": th,
                "wind_speed": ws, "wind_direction": wd, "rain_amt": ra,
                "snow_amt": sa, "humidity": hu,
            }
        )
    entries = [{"id": eid, "choices": ch} for eid, ch in by_entry.items()]
    status, added = _post_json(
        f"{base}/oracle/events/{EVENT_ID}/entries", {"entries": entries}
    )
    assert status == 200 and len(added) == len(entries)

    # GET list is the EventSummary projection with EventFilter params
    # (db/mod.rs:197-209: limit default 100, event_ids IN-list)
    summaries = _get_json(f"{base}/oracle/events")
    assert summaries[0]["total_entries"] == len(entries)
    assert summaries[0]["total_allowed_entries"] == 4
    assert summaries[0]["weather"] == []  # documented twin divergence
    assert "scoring_fields" not in summaries[0]  # projection, not full row
    assert _get_json(f"{base}/oracle/events?limit=0") == []
    assert _get_json(
        f"{base}/oracle/events?event_ids=no-such-id"
    ) == []
    assert [
        e["id"]
        for e in _get_json(
            f"{base}/oracle/events?event_ids=no-such-id,{EVENT_ID}"
        )
    ] == [EVENT_ID]
    st, _ = _status_of(f"{base}/oracle/events?limit=bogus")
    assert st == 400
    # negative limit: EventFilter.limit is usize in the reference, so a
    # client error (400), not a 500 from DataFrame.limit(-1) (r5 advice)
    st, _ = _status_of(f"{base}/oracle/events?limit=-1")
    assert st == 400

    # GET one entry
    e0 = entries[0]["id"]
    one = _get_json(f"{base}/oracle/events/{EVENT_ID}/entries/{e0}")
    assert one["id"] == e0 and one["score"] is None

    # POST /oracle/update: fire-and-forget + status poll
    status, kicked = _post_json(f"{base}/oracle/update", {})
    assert status == 200 and "etl_process_id" in kicked
    poll = f"{base}{kicked['status']}"
    for _ in range(240):
        st_obj = _get_json(poll)
        if st_obj["state"] != "running":
            break
        time.sleep(0.5)
    assert st_obj["state"] == "completed", st_obj
    assert st_obj["events_scored"] == [EVENT_ID]

    # scored entries visible over the API with the exact golden scores
    got = {}
    for eid in by_entry:
        row = _get_json(f"{base}/oracle/events/{EVENT_ID}/entries/{eid}")
        got[eid] = (row["score"], row["base_score"])
    assert got == EXPECTED

    # unknown process id → 404; junk pid → 400
    st, _ = _status_of(f"{base}/oracle/update/123")
    assert st == 404
    st, _ = _status_of(f"{base}/oracle/update/notanumber")
    assert st == 400
    # unknown event / entry → 404
    st, _ = _status_of(f"{base}/oracle/events/{e0}")
    assert st == 404


def test_5xx_and_failed_update_log_their_tracebacks(
    spark, tmp_path, monkeypatch, caplog
):
    """A 500 and a failed scoring task keep their response shapes and leave
    the cause, with its traceback, in the server's log."""
    import logging
    import time

    from noaa_oracle_spark.eventstore import EventStore

    def stations_fail(*args, **kwargs):
        raise RuntimeError("stations exploded")

    def events_fail(self, now=None):
        raise RuntimeError("scoring exploded")

    monkeypatch.setattr(service, "stations_request", stations_fail)
    monkeypatch.setattr(EventStore, "active_events", events_fail)
    srv, _ = serve_background(spark, str(tmp_path))
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        with caplog.at_level(logging.ERROR,
                             logger="noaa_oracle_spark.http_service"):
            assert _status_of(f"{base}/stations") == (
                500, "internal error: stations exploded")
            _, kicked = _post_json(f"{base}/oracle/update", {})
            for _ in range(240):
                task = _get_json(f"{base}{kicked['status']}")
                if task["state"] != "running":
                    break
                time.sleep(0.25)
    finally:
        srv.shutdown()
        srv.server_close()
    pid = kicked["etl_process_id"]
    assert task == {"etl_process_id": pid, "state": "failed",
                    "error": "scoring exploded"}
    logged = {r.getMessage(): r.exc_info for r in caplog.records
              if r.name == "noaa_oracle_spark.http_service"}
    assert str(logged["GET /stations failed"][1]) == "stations exploded"
    assert str(logged[f"scoring task {pid} failed"][1]) == "scoring exploded"
    assert caplog.text.count("Traceback") == 2


# ---------------------------------------------------------------------------
# POST /search/knn — serve a saved PQ index (train-once/serve-many)
# ---------------------------------------------------------------------------


def _post_error(url: str, obj) -> tuple[int, str]:
    try:
        status, body = _post_json(url, obj)
        return status, json.dumps(body)
    except urllib.error.HTTPError as exc:
        return exc.code, exc.read().decode()


def test_search_knn_serves_saved_index_without_training(
    server, spark, tmp_path_factory, monkeypatch
):
    """The r6 verdict ask: the q116-style cascade's point is train once,
    serve many.  Build + save an index, then answer queries over HTTP
    with pq_train forbidden (monkeypatched to raise) — the endpoint must
    score from the persisted codebooks + codes alone, match a direct
    pq_knn run, cache the load across requests, and 400 on bad input."""
    import numpy as np

    from noaa_oracle_spark.pipeline import pq as pqmod
    from noaa_oracle_spark.pipeline.pq import (
        pq_encode,
        pq_knn,
        pq_train,
        save_pq_index,
    )

    base, _ = server
    rng = np.random.RandomState(29)
    vecs = rng.randn(200, 8)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    books = pq_train(emb, m=4, k=8, iters=1)
    path = str(tmp_path_factory.mktemp("pq_http") / "idx")
    save_pq_index(books, pq_encode(emb, books), path)

    # after the save, training anywhere in the serve path is a bug
    def _no_train(*a, **kw):
        raise AssertionError("serve path must not retrain")

    monkeypatch.setattr(pqmod, "pq_train", _no_train)

    qvec = [float(x) for x in vecs[0]]
    want_df = spark.createDataFrame(
        [(-1, qvec)], "vec_id long, embedding array<double>"
    )
    want = [
        (r.rank, r.n_id, r.adc_dist)
        for r in sorted(
            pq_knn(
                want_df,
                spark.read.parquet(f"{path}/codes"),
                spark.read.parquet(f"{path}/codebooks"),
                k=3,
            ).collect(),
            key=lambda r: r.rank,
        )
    ]

    loads = []
    real_load = pqmod.load_pq_index

    def counting_load(spark_, p):
        loads.append(p)
        return real_load(spark_, p)

    monkeypatch.setattr(pqmod, "load_pq_index", counting_load)

    status, out = _post_json(
        f"{base}/search/knn", {"index_path": path, "vector": qvec, "k": 3}
    )
    assert status == 200
    assert out["n_encoded"] == 200 and out["k"] == 3
    got = [
        (n["rank"], n["vec_id"], n["adc_dist"]) for n in out["neighbors"]
    ]
    assert got == want
    # vec 0 is in the corpus: its own id must surface at distance ~0
    assert got[0][1] == 0

    # second request: served from the cache, no second load
    status2, out2 = _post_json(
        f"{base}/search/knn", {"index_path": path, "vector": qvec, "k": 3}
    )
    assert status2 == 200 and out2["neighbors"] == out["neighbors"]
    assert len(loads) == 1

    # validation: missing fields, bad k, wrong dimensionality, bad path
    for bad, frag in (
        ({"vector": qvec}, "index_path"),
        ({"index_path": path}, "vector"),
        ({"index_path": path, "vector": qvec, "k": 0}, "k must be"),
        ({"index_path": path, "vector": [1.0, 2.0]}, "dims"),
        (
            {"index_path": path + "_nope", "vector": qvec},
            "cannot load PQ index",
        ),
    ):
        code, msg = _post_error(f"{base}/search/knn", bad)
        assert code == 400 and frag in msg, (bad, code, msg)


def test_search_knn_returns_negative_corpus_ids(server, spark, tmp_path_factory):
    """Round-7 review: the endpoint's sentinel query id must sit outside
    the corpus id domain — a corpus that legitimately contains vec_id=-1
    must still get it back as a neighbor."""
    import numpy as np

    from noaa_oracle_spark.pipeline.pq import (
        pq_encode,
        pq_train,
        save_pq_index,
    )

    base, _ = server
    rng = np.random.RandomState(31)
    vecs = rng.randn(50, 8)
    emb = spark.createDataFrame(
        [(i - 1, [float(x) for x in vecs[i]]) for i in range(50)],
        "vec_id long, embedding array<double>",
    )  # ids -1..48
    books = pq_train(emb, m=4, k=8, iters=1)
    path = str(tmp_path_factory.mktemp("pq_http_neg") / "idx")
    save_pq_index(books, pq_encode(emb, books), path)
    status, out = _post_json(
        f"{base}/search/knn",
        {"index_path": path, "vector": [float(x) for x in vecs[0]], "k": 3},
    )
    assert status == 200
    # vec 0 has corpus id -1: it must be the top neighbor, not dropped
    assert out["neighbors"][0]["vec_id"] == -1


def test_warc_record_fetch_over_sockets(spark, tmp_path_factory):
    """GET /warc/record serves one record by CDX coordinates (r7
    verdict ask #7): coords straight from warc_records' columns come
    back as the record's headers + base64 payload; traversal outside
    warc_dir and bad extents fail loudly; servers without a warc_dir
    404 the route."""
    import base64
    import urllib.parse

    from noaa_oracle_spark.pipeline.warc import build_warc, warc_records

    d = str(tmp_path_factory.mktemp("warc_serve"))
    recs = [
        {
            "type": "response",
            "uri": f"https://w.test/p/{i}",
            "date": f"2026-02-0{i + 1}T00:00:00Z",
            "http_status": 200,
            "http_content_type": "text/html",
            "payload": b"<html><body>record %d</body></html>" % i,
        }
        for i in range(3)
    ]
    shard = os.path.join(d, "sub", "serve.warc.gz")
    os.makedirs(os.path.dirname(shard))
    with open(shard, "wb") as f:
        f.write(build_warc(recs, member_gzip=True))

    rows = warc_records(spark, shard).orderBy("record_idx").collect()
    assert len(rows) == 3

    srv, _ = serve_background(spark, d, warc_dir=d)
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        row = rows[1]
        q = urllib.parse.urlencode(
            {
                "shard": "sub/serve.warc.gz",
                "offset": row.record_offset,
                "length": row.record_length,
            }
        )
        out = _get_json(f"{base}/warc/record?{q}")
        assert out["headers"]["warc-target-uri"] == "https://w.test/p/1"
        payload = base64.b64decode(out["payload_b64"])
        assert payload.startswith(b"HTTP/1.1 200")
        assert b"record 1" in payload
        # traversal is rejected
        bad = urllib.parse.urlencode(
            {"shard": "../escape.warc", "offset": 0, "length": 10}
        )
        code, msg = _status_of(f"{base}/warc/record?{bad}")
        assert code == 400 and "escapes" in msg
        # an extent past the shard = clean 404, not a 500
        past = urllib.parse.urlencode(
            {"shard": "sub/serve.warc.gz", "offset": 10**9, "length": 100}
        )
        code, _ = _status_of(f"{base}/warc/record?{past}")
        assert code == 404
        code, _ = _status_of(f"{base}/warc/record?shard=x&offset=a&length=1")
        assert code == 400

        # ---- batch mode (r11 verdict ask #5): POST /warc/records ==
        # element-wise the N single GETs, one shard open per shard,
        # per-extent errors in place
        singles = []
        for r in rows:
            qq = urllib.parse.urlencode(
                {
                    "shard": "sub/serve.warc.gz",
                    "offset": r.record_offset,
                    "length": r.record_length,
                }
            )
            singles.append(_get_json(f"{base}/warc/record?{qq}"))
        extents = [
            {
                "shard": "sub/serve.warc.gz",
                "offset": r.record_offset,
                "length": r.record_length,
            }
            for r in rows
        ]
        # duplicate extent + a bad one, to pin input-order results and
        # in-place errors
        extents.append(dict(extents[0]))
        extents.append(
            {"shard": "sub/serve.warc.gz", "offset": 10**9, "length": 64}
        )
        status, batch = _post_json(f"{base}/warc/records", {
            "extents": extents,
        })
        assert status == 200 and batch["n"] == 5
        for i in range(3):
            got = batch["records"][i]
            assert got["headers"] == singles[i]["headers"], i
            assert got["payload_b64"] == singles[i]["payload_b64"], i
        assert batch["records"][3]["payload_b64"] == (
            singles[0]["payload_b64"]
        )
        assert "error" in batch["records"][4]
        # batch validation: traversal and malformed extents still 400
        code, msg = _post_error(
            f"{base}/warc/records",
            {"extents": [{"shard": "../x", "offset": 0, "length": 9}]},
        )
        assert code == 400 and "escapes" in msg
        code, msg = _post_error(f"{base}/warc/records", {"extents": []})
        assert code == 400
    finally:
        srv.shutdown()
        srv.server_close()

    # a server with no warc_dir does not expose the route
    srv2, _ = serve_background(spark, d)
    base2 = f"http://127.0.0.1:{srv2.server_address[1]}"
    try:
        code, msg = _status_of(
            f"{base2}/warc/record?shard=sub/serve.warc.gz&offset=0&length=9"
        )
        assert code == 404 and "warc_dir" in msg
    finally:
        srv2.shutdown()
        srv2.server_close()


# ---------------------------------------------------------------------------
# POST /search/bm25 — serve a saved inverted index (index-once/serve-many)
# ---------------------------------------------------------------------------


def test_search_bm25_serves_saved_index(server, spark, tmp_path_factory):
    """Lexical sibling of /search/knn: build + save a BM25 index, answer
    term queries over HTTP matching a direct bm25_query run, cache the
    load across requests, and 400 on bad input / torn index."""
    from noaa_oracle_spark.pipeline.text import (
        bm25_query,
        load_bm25_index,
        save_bm25_index,
    )

    base, _ = server
    docs = spark.createDataFrame(
        [
            (1, "spark window hash join"),
            (2, "hash hash hash"),
            (3, "window functions rank"),
            (4, "totally unrelated prose"),
            (5, "spark hash"),
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path_factory.mktemp("bm25_http") / "idx")
    save_bm25_index(docs, path)

    idx = load_bm25_index(spark, path)
    want = [
        (r.rnk, r.doc_id, r.bm25)
        for r in sorted(
            bm25_query(idx, ["spark", "hash"], k=3).collect(),
            key=lambda r: r.rnk,
        )
    ]
    status, out = _post_json(
        f"{base}/search/bm25",
        {"index_path": path, "terms": ["spark", "hash"], "k": 3},
    )
    assert status == 200
    assert out["n_docs"] == 5 and out["k"] == 3
    got = [(r["rank"], r["doc_id"], r["bm25"]) for r in out["results"]]
    assert got == want
    # second request hits the cache and agrees
    status2, out2 = _post_json(
        f"{base}/search/bm25",
        {"index_path": path, "terms": ["spark", "hash"], "k": 3},
    )
    assert status2 == 200 and out2 == out

    # non-default k1/b change scores but stay well-formed
    status3, out3 = _post_json(
        f"{base}/search/bm25",
        {"index_path": path, "terms": ["hash"], "k": 2, "k1": 0.9, "b": 0.3},
    )
    assert status3 == 200 and len(out3["results"]) == 2

    for bad in (
        {"terms": ["x"]},  # missing path
        {"index_path": path},  # missing terms
        {"index_path": path, "terms": []},
        {"index_path": path, "terms": ["ok", 7]},
        {"index_path": path, "terms": ["ok"], "k": 0},
        {"index_path": path, "terms": ["ok"], "k1": "fast"},
        {"index_path": "/nonexistent/idx", "terms": ["ok"]},
    ):
        code, msg = _post_error(f"{base}/search/bm25", bad)
        assert code == 400, (bad, code, msg)


# ---------------------------------------------------------------------------
# POST /search/hybrid — RRF fusion of the lexical and vector serve legs
# ---------------------------------------------------------------------------


def test_search_hybrid_fuses_bm25_and_knn(server, spark, tmp_path_factory):
    """Hybrid serve: build BOTH persisted indexes over one corpus
    (doc_id == vec_id), query over HTTP, and check the fused ranking
    equals a direct bm25_query + pq_knn + rrf_fuse composition, with
    per-leg provenance ranks (null where a leg didn't nominate)."""
    import numpy as np

    from noaa_oracle_spark.pipeline.pq import (
        pq_encode,
        pq_knn,
        pq_train,
        save_pq_index,
    )
    from noaa_oracle_spark.pipeline.text import (
        bm25_query,
        load_bm25_index,
        rrf_fuse,
        save_bm25_index,
    )

    base, _ = server
    texts = {
        1: "spark window hash join",
        2: "hash hash hash",
        3: "window functions rank",
        4: "totally unrelated prose",
        5: "spark hash",
        6: "prose about nothing",
    }
    docs = spark.createDataFrame(
        sorted(texts.items()), "doc_id long, text string"
    )
    rng = np.random.RandomState(31)
    vecs = {i: rng.randn(8) for i in sorted(texts)}
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in sorted(vecs.items())],
        "vec_id long, embedding array<double>",
    )
    root = tmp_path_factory.mktemp("hybrid_http")
    bpath, ppath = str(root / "bm25"), str(root / "pq")
    save_bm25_index(docs, bpath)
    books = pq_train(emb, m=4, k=4, iters=1)
    save_pq_index(books, pq_encode(emb, books), ppath)

    qterms = ["spark", "hash"]
    qvec = [float(x) for x in vecs[3]]  # vector-near doc 3, lexical-miss
    k, topk, rrf_k = 3, 4, 60

    # direct composition = expected fusion
    bm = bm25_query(load_bm25_index(spark, bpath), qterms, k=k).select(
        "doc_id", "rnk"
    )
    from pyspark.sql import functions as F

    qdf = spark.createDataFrame(
        [(-1, qvec)], "vec_id long, embedding array<double>"
    )
    kn = pq_knn(
        qdf,
        spark.read.parquet(f"{ppath}/codes"),
        spark.read.parquet(f"{ppath}/codebooks"),
        k=k,
    ).select(F.col("n_id").alias("doc_id"), F.col("rank").alias("rnk"))
    want = [
        (r.rnk, r.doc_id, r.rrf_score)
        for r in sorted(
            rrf_fuse([bm, kn], k=rrf_k, topk=topk).collect(),
            key=lambda r: r.rnk,
        )
    ]
    bm_ranks = {r.doc_id: r.rnk for r in bm.collect()}
    kn_ranks = {r.doc_id: r.rnk for r in kn.collect()}

    status, out = _post_json(
        f"{base}/search/hybrid",
        {
            "bm25": {"index_path": bpath, "terms": qterms},
            "knn": {"index_path": ppath, "vector": qvec},
            "k": k,
            "topk": topk,
            "rrf_k": rrf_k,
        },
    )
    assert status == 200
    assert out["topk"] == topk and out["rrf_k"] == rrf_k
    got = [(r["rank"], r["doc_id"], r["rrf_score"]) for r in out["results"]]
    assert got == want
    assert len(got) == topk
    for r in out["results"]:
        assert r["bm25_rank"] == bm_ranks.get(r["doc_id"])
        assert r["knn_rank"] == kn_ranks.get(r["doc_id"])
    # both legs actually contributed somewhere in the fused list
    assert any(r["bm25_rank"] is not None for r in out["results"])
    assert any(r["knn_rank"] is not None for r in out["results"])

    # validation surface
    for bad, frag in (
        ({"knn": {"index_path": ppath, "vector": qvec}}, "bm25"),
        ({"bm25": {"index_path": bpath, "terms": qterms}}, "knn"),
        (
            {
                "bm25": {"index_path": bpath},
                "knn": {"index_path": ppath, "vector": qvec},
            },
            "terms",
        ),
        (
            {
                "bm25": {"index_path": bpath, "terms": qterms},
                "knn": {"index_path": ppath},
            },
            "vector",
        ),
        (
            {
                "bm25": {"index_path": bpath, "terms": qterms},
                "knn": {"index_path": ppath, "vector": qvec},
                "topk": 0,
            },
            "topk",
        ),
        (
            {
                "bm25": {"index_path": bpath, "terms": qterms},
                "knn": {"index_path": ppath, "vector": [1.0]},
            },
            "dims",
        ),
    ):
        code, msg = _post_error(f"{base}/search/hybrid", bad)
        assert code == 400 and frag in msg, (bad, code, msg)


def test_search_knn_append_then_reload_serves_grown_index(
    server, spark, tmp_path_factory
):
    """The incremental-index serve loop: save -> serve -> append_pq_index
    -> serve with reload=true.  The cached index keeps answering with the
    OLD corpus until the caller asks for a reload (stable-snapshot serving
    — an append never yanks an index out from under in-flight queries),
    and the reload surfaces both the new n_encoded and a new vector as
    its own top neighbor."""
    import numpy as np
    from pyspark.sql import functions as F

    from noaa_oracle_spark.pipeline.pq import (
        append_pq_index,
        pq_encode,
        pq_train,
        save_pq_index,
    )

    base, _ = server
    rng = np.random.RandomState(37)
    vecs = rng.randn(120, 8)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(120)],
        "vec_id long, embedding array<double>",
    )
    books = pq_train(emb.filter(F.col("vec_id") < 100), m=4, k=8, iters=1)
    path = str(tmp_path_factory.mktemp("pq_http_grow") / "idx")
    save_pq_index(
        books, pq_encode(emb.filter(F.col("vec_id") < 100), books), path
    )

    new_vec = [float(x) for x in vecs[110]]
    status, out = _post_json(
        f"{base}/search/knn", {"index_path": path, "vector": new_vec, "k": 1}
    )
    assert status == 200 and out["n_encoded"] == 100

    n = append_pq_index(spark, path, emb.filter(F.col("vec_id") >= 100))
    assert n == 20

    # without reload: the cached snapshot still serves the old corpus
    status, out = _post_json(
        f"{base}/search/knn", {"index_path": path, "vector": new_vec, "k": 1}
    )
    assert status == 200 and out["n_encoded"] == 100

    status, out = _post_json(
        f"{base}/search/knn",
        {"index_path": path, "vector": new_vec, "k": 1, "reload": True},
    )
    assert status == 200 and out["n_encoded"] == 120
    assert out["neighbors"][0]["vec_id"] == 110


def test_search_knn_nprobe_serves_cell_pruned_index(
    server, spark, tmp_path_factory
):
    """POST /search/knn with nprobe over a cell-partitioned index
    (save_ivfpq_index): the served neighbors equal a direct ivfpq_query
    run; nprobe on a flat index and bad nprobe values are 400s."""
    import numpy as np
    from pyspark.sql import functions as F

    from noaa_oracle_spark.pipeline.pq import (
        ivfpq_query,
        load_pq_index,
        pq_encode,
        pq_train,
        save_ivfpq_index,
        save_pq_index,
    )

    base, _ = server
    rng = np.random.RandomState(41)
    vecs = rng.randn(150, 8)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(150)],
        "vec_id long, embedding array<double>",
    )
    books = pq_train(emb, m=4, k=8, iters=1)
    cells = emb.filter(F.col("vec_id") < 6)
    path = str(tmp_path_factory.mktemp("pq_http_ivf") / "idx")
    save_ivfpq_index(books, emb, cells, path)

    qvec = [float(x) for x in vecs[77]]
    status, out = _post_json(
        f"{base}/search/knn",
        {"index_path": path, "vector": qvec, "k": 3, "nprobe": 2},
    )
    assert status == 200 and out["nprobe"] == 2
    want = [
        (r.rank, r.n_id, r.adc_dist)
        for r in sorted(
            ivfpq_query(
                load_pq_index(spark, path), qvec, k=3, nprobe=2
            ).collect(),
            key=lambda r: r.rank,
        )
    ]
    got = [
        (n["rank"], n["vec_id"], n["adc_dist"]) for n in out["neighbors"]
    ]
    assert got == want
    assert got[0][1] == 77  # own vector at ~0 ADC distance

    flat = str(tmp_path_factory.mktemp("pq_http_flat2") / "idx")
    save_pq_index(books, pq_encode(emb, books), flat)
    code, msg = _post_error(
        f"{base}/search/knn",
        {"index_path": flat, "vector": qvec, "k": 3, "nprobe": 2},
    )
    assert code == 400 and "no coarse cells" in msg
    code, msg = _post_error(
        f"{base}/search/knn",
        {"index_path": path, "vector": qvec, "k": 3, "nprobe": 0},
    )
    assert code == 400 and "nprobe" in msg


def test_search_hybrid_nprobe_vector_leg(server, spark, tmp_path_factory):
    """Hybrid serve with a cell-partitioned vector leg: knn.nprobe routes
    the vector nomination through ivfpq_query (partition-pruned) and the
    fused ranking equals the direct bm25_query + ivfpq_query + rrf_fuse
    composition; a bad nprobe is a 400."""
    import numpy as np
    from pyspark.sql import functions as F

    from noaa_oracle_spark.pipeline.pq import (
        ivfpq_query,
        load_pq_index,
        pq_train,
        save_ivfpq_index,
    )
    from noaa_oracle_spark.pipeline.text import (
        bm25_query,
        load_bm25_index,
        rrf_fuse,
        save_bm25_index,
    )

    base, _ = server
    texts = {i: t for i, t in enumerate(
        ["spark hash join", "hash hash", "window rank", "plain prose",
         "spark hash", "nothing here", "spark spark", "rank window hash"]
    )}
    docs = spark.createDataFrame(
        sorted(texts.items()), "doc_id long, text string"
    )
    rng = np.random.RandomState(43)
    vecs = {i: rng.randn(8) for i in sorted(texts)}
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in sorted(vecs.items())],
        "vec_id long, embedding array<double>",
    )
    root = tmp_path_factory.mktemp("hybrid_ivf")
    bpath, ppath = str(root / "bm25"), str(root / "ivf")
    save_bm25_index(docs, bpath)
    books = pq_train(emb, m=4, k=4, iters=1)
    save_ivfpq_index(books, emb, emb.filter(F.col("vec_id") < 3), ppath)

    qterms = ["spark", "hash"]
    qvec = [float(x) for x in vecs[2]]
    k, topk, rrf_k, nprobe = 3, 4, 60, 2

    bm = bm25_query(load_bm25_index(spark, bpath), qterms, k=k).select(
        "doc_id", "rnk"
    )
    kn = ivfpq_query(
        load_pq_index(spark, ppath), qvec, k=k, nprobe=nprobe
    ).select(F.col("n_id").alias("doc_id"), F.col("rank").alias("rnk"))
    want = [
        (r.doc_id, r.rrf_score, r.rnk)
        for r in rrf_fuse([bm, kn], k=rrf_k, topk=topk)
        .orderBy("rnk")
        .collect()
    ]

    status, out = _post_json(
        f"{base}/search/hybrid",
        {
            "bm25": {"index_path": bpath, "terms": qterms},
            "knn": {"index_path": ppath, "vector": qvec, "nprobe": nprobe},
            "k": k, "topk": topk, "rrf_k": rrf_k,
        },
    )
    assert status == 200
    got = [
        (r["doc_id"], r["rrf_score"], r["rank"]) for r in out["results"]
    ]
    assert got == want

    code, msg = _post_error(
        f"{base}/search/hybrid",
        {
            "bm25": {"index_path": bpath, "terms": qterms},
            "knn": {"index_path": ppath, "vector": qvec, "nprobe": -1},
        },
    )
    assert code == 400 and "nprobe" in msg


def test_search_bm25_append_then_reload_serves_grown_index(
    server, spark, tmp_path_factory
):
    """Lexical twin of the pq append/reload loop: save -> serve ->
    append_bm25_index -> serve with reload=true.  The cached snapshot
    keeps answering with the old corpus until the caller reloads, then
    n_docs reflects the growth and a term only the new batch contains
    becomes findable."""
    from noaa_oracle_spark.pipeline.text import (
        append_bm25_index,
        save_bm25_index,
    )

    base, _ = server
    docs = spark.createDataFrame(
        [(1, "spark hash join"), (2, "hash hash")],
        "doc_id long, text string",
    )
    path = str(tmp_path_factory.mktemp("bm25_http_grow") / "idx")
    save_bm25_index(docs, path)

    status, out = _post_json(
        f"{base}/search/bm25",
        {"index_path": path, "terms": ["zebra"], "k": 3},
    )
    assert status == 200 and out["n_docs"] == 2 and out["results"] == []

    extra = spark.createDataFrame(
        [(3, "zebra crossing"), (4, "plain prose")],
        "doc_id long, text string",
    )
    assert append_bm25_index(spark, path, extra) == 2

    # stale snapshot until reload
    status, out = _post_json(
        f"{base}/search/bm25",
        {"index_path": path, "terms": ["zebra"], "k": 3},
    )
    assert status == 200 and out["n_docs"] == 2 and out["results"] == []

    status, out = _post_json(
        f"{base}/search/bm25",
        {"index_path": path, "terms": ["zebra"], "k": 3, "reload": True},
    )
    assert status == 200 and out["n_docs"] == 4
    assert [r["doc_id"] for r in out["results"]] == [3]


def test_index_bm25_compact_endpoint(server, spark, tmp_path_factory):
    """POST /index/bm25/compact: an append-fragmented index compacts to
    out_path (fewer postings files, score-identical service), serve=true
    pre-warms the cache, and bad input / in-place rewrites 400."""
    from noaa_oracle_spark.pipeline.text import (
        append_bm25_index,
        save_bm25_index,
    )

    base, _ = server
    d = tmp_path_factory.mktemp("bm25_http_compact")
    path, out = str(d / "idx"), str(d / "compacted")
    save_bm25_index(
        spark.createDataFrame(
            [(1, "spark hash join"), (2, "hash window")],
            "doc_id long, text string",
        ),
        path,
    )
    append_bm25_index(
        spark,
        path,
        spark.createDataFrame(
            [(3, "hash rank"), (4, "plain prose")],
            "doc_id long, text string",
        ),
    )
    append_bm25_index(
        spark,
        path,
        spark.createDataFrame(
            [(5, "spark spark hash"), (6, "join join")],
            "doc_id long, text string",
        ),
    )

    status, before = _post_json(
        f"{base}/search/bm25",
        {"index_path": path, "terms": ["spark", "hash"], "k": 5},
    )
    assert status == 200 and before["n_docs"] == 6

    status, stats = _post_json(
        f"{base}/index/bm25/compact",
        {"index_path": path, "out_path": out, "serve": True},
    )
    assert status == 200
    assert stats["n_docs"] == 6
    assert stats["postings_files_after"] < stats["postings_files_before"]

    # the compacted index serves identical results (cache pre-warmed)
    status, after = _post_json(
        f"{base}/search/bm25",
        {"index_path": out, "terms": ["spark", "hash"], "k": 5},
    )
    assert status == 200
    assert after["results"] == before["results"]

    for bad in (
        {"out_path": out},  # missing index_path
        {"index_path": path},  # missing out_path
        {"index_path": path, "out_path": path},  # in-place refuse
        {"index_path": "/nonexistent/idx", "out_path": out + "2"},
    ):
        code, msg = _post_error(f"{base}/index/bm25/compact", bad)
        assert code == 400, (bad, code, msg)


def test_search_knn_batch_serves_vectors(server, spark, tmp_path_factory):
    """POST /search/knn with "vectors": N queries served from the
    cell-partitioned index in ONE job (ivfpq_query_batch) — per-vector
    results equal direct single-vector ivfpq_query calls; malformed
    batch bodies 400."""
    import numpy as np
    from pyspark.sql import functions as F

    from noaa_oracle_spark.pipeline.pq import (
        ivfpq_query,
        load_pq_index,
        pq_train,
        save_ivfpq_index,
    )

    base, _ = server
    rng = np.random.RandomState(47)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.randn(8)]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    path = str(tmp_path_factory.mktemp("pq_http_batch") / "idx")
    books = pq_train(emb, m=4, k=4, iters=1)
    save_ivfpq_index(books, emb, emb.filter(F.col("vec_id") < 4), path)

    rows = emb.filter(F.col("vec_id") < 2).orderBy("vec_id").collect()
    vecs = [[float(x) for x in r.embedding] for r in rows]
    status, out = _post_json(
        f"{base}/search/knn",
        {"index_path": path, "vectors": vecs, "k": 3, "nprobe": 2},
    )
    assert status == 200 and len(out["results"]) == 2
    idx = load_pq_index(spark, path)
    for i, v in enumerate(vecs):
        want = [
            (r.rank, r.n_id, r.adc_dist)
            for r in ivfpq_query(idx, v, k=3, nprobe=2).collect()
        ]
        got = [
            (r["rank"], r["vec_id"], r["adc_dist"])
            for r in out["results"][i]
        ]
        assert sorted(got) == sorted(want), i

    # no-nprobe batch = flat-ADC batch (one multi-query pq_knn job):
    # per-vector equal to the single flat serve path
    status, flat_out = _post_json(
        f"{base}/search/knn",
        {"index_path": path, "vectors": vecs, "k": 3},
    )
    assert status == 200
    for i, v in enumerate(vecs):
        status, single = _post_json(
            f"{base}/search/knn",
            {"index_path": path, "vector": v, "k": 3},
        )
        assert status == 200
        got = [
            (r["rank"], r["vec_id"], r["adc_dist"])
            for r in flat_out["results"][i]
        ]
        want = [
            (r["rank"], r["vec_id"], r["adc_dist"])
            for r in single["neighbors"]
        ]
        assert sorted(got) == sorted(want), i

    for bad in (
        {"index_path": path, "vectors": vecs, "vector": vecs[0], "k": 3,
         "nprobe": 2},                                  # both forms
        {"index_path": path, "vectors": [], "k": 3, "nprobe": 2},
        {"index_path": path, "vectors": [vecs[0], ["x"]], "k": 3,
         "nprobe": 2},                                  # ragged/non-numeric
        {"index_path": path, "vectors": [[1.0, 2.0]], "k": 3,
         "nprobe": 2},                                  # wrong dim
        {"index_path": path, "vectors": [[1.0, 2.0]], "k": 3},  # flat dim
    ):
        code, msg = _post_error(f"{base}/search/knn", bad)
        assert code == 400, (bad, code, msg)


def test_search_knn_flat_serves_custom_id_index(server, spark, tmp_path_factory):
    """The flat (no-nprobe) serve path must use the index's OWN id
    column — an index saved with id_col='doc_id' serves over HTTP."""
    import numpy as np

    from noaa_oracle_spark.pipeline.pq import (
        pq_encode,
        pq_train,
        save_pq_index,
    )

    base, _ = server
    rng = np.random.RandomState(53)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.randn(8)]) for i in range(40)],
        "doc_id long, embedding array<double>",
    )
    books = pq_train(emb, m=4, k=4, iters=1, id_col="doc_id")
    path = str(tmp_path_factory.mktemp("pq_http_custom") / "idx")
    save_pq_index(books, pq_encode(emb, books, id_col="doc_id"), path)

    qvec = [float(x) for x in emb.first().embedding]
    status, out = _post_json(
        f"{base}/search/knn", {"index_path": path, "vector": qvec, "k": 3}
    )
    assert status == 200
    assert [r["vec_id"] for r in out["neighbors"]][0] == 0  # self 1-NN


def test_index_pq_compact_endpoint(server, spark, tmp_path_factory):
    """POST /index/pq/compact (r10 verdict ask #2): an append-fragmented
    IVF-PQ index compacts to out_path (fewer codes files,
    neighbor-identical service), serve=true pre-warms the cache, and
    bad input / in-place rewrites 400."""
    import numpy as np
    from pyspark.sql import functions as F

    from noaa_oracle_spark.pipeline.pq import (
        append_pq_index,
        pq_train,
        save_ivfpq_index,
    )

    base, _ = server
    d = tmp_path_factory.mktemp("pq_http_compact")
    path, out = str(d / "idx"), str(d / "compacted")
    rng = np.random.RandomState(41)
    vecs = rng.randn(160, 16)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(160)],
        "vec_id long, embedding array<double>",
    )
    base_corp = emb.filter(F.col("vec_id") < 100)
    books = pq_train(base_corp, m=4, k=8, iters=1)
    cells = emb.filter(F.col("vec_id") < 5)
    save_ivfpq_index(books, base_corp, cells, path)
    for lo in (100, 120, 140):
        append_pq_index(
            spark,
            path,
            emb.filter(
                (F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 20)
            ),
        )

    qvec = [float(x) for x in vecs[150]]
    status, before = _post_json(
        f"{base}/search/knn",
        {"index_path": path, "vector": qvec, "k": 3, "nprobe": 3},
    )
    assert status == 200 and before["n_encoded"] == 160

    status, stats = _post_json(
        f"{base}/index/pq/compact",
        {"index_path": path, "out_path": out, "serve": True},
    )
    assert status == 200
    assert stats["n_encoded"] == 160
    assert stats["codes_files_after"] < stats["codes_files_before"]

    # the compacted index serves bit-identical neighbors (pre-warmed)
    status, after = _post_json(
        f"{base}/search/knn",
        {"index_path": out, "vector": qvec, "k": 3, "nprobe": 3},
    )
    assert status == 200
    assert after["neighbors"] == before["neighbors"]

    for bad in (
        {"out_path": out},
        {"index_path": path},
        {"index_path": path, "out_path": path},
        {"index_path": "/nonexistent/idx", "out_path": out + "2"},
    ):
        code, msg = _post_error(f"{base}/index/pq/compact", bad)
        assert code == 400, (bad, code, msg)


def test_search_knn_serves_opq_rotated_index(
    server, spark, tmp_path_factory
):
    """OPQ rotation round-trip over sockets (r10 verdict ask #3): an
    index trained in rotated space and saved with rotation=R serves RAW
    query vectors correctly — the endpoint's results equal the
    in-session rotated-space query.  Before rotation persistence this
    would have scored unrotated queries against rotated codes."""
    import numpy as np
    from pyspark.sql import functions as F

    from noaa_oracle_spark.pipeline.pq import (
        ivfpq_query,
        load_pq_index,
        opq_train_rotation,
        pq_train,
        rotate_embeddings,
        save_ivfpq_index,
    )

    base, _ = server
    d = tmp_path_factory.mktemp("opq_http")
    path = str(d / "idx")
    rng = np.random.RandomState(43)
    vecs = rng.randn(120, 16) * np.linspace(3.0, 0.2, 16)[None, :]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(120)],
        "vec_id long, embedding array<double>",
    )
    rot = opq_train_rotation(emb, m=4)
    rotated = rotate_embeddings(emb, rot)
    books = pq_train(rotated, m=4, k=8, iters=1)
    cells = rotated.filter(F.col("vec_id") < 5)
    save_ivfpq_index(books, rotated, cells, path, rotation=rot)

    qvec = [float(x) for x in vecs[60]]
    status, out = _post_json(
        f"{base}/search/knn",
        {"index_path": path, "vector": qvec, "k": 3, "nprobe": 3},
    )
    assert status == 200
    got = [
        (n["rank"], n["vec_id"], n["adc_dist"]) for n in out["neighbors"]
    ]
    idx = load_pq_index(spark, path)
    want = [
        (r.rank, r.n_id, r.adc_dist)
        for r in ivfpq_query(idx, qvec, k=3, nprobe=3)
        .orderBy("rank")
        .collect()
    ]
    assert got == want
    # sanity: the query's own corpus twin ranks first (the rotation was
    # applied — an unrotated probe of rotated cells would miss it)
    assert got[0][1] == 60


def test_search_hybrid_batch_equals_singles(
    server, spark, tmp_path_factory
):
    """POST /search/hybrid with "queries": N hybrid queries served as
    one batch — per-query results equal N single-query requests against
    the same indexes; malformed batch bodies 400 (r10 verdict ask #4)."""
    import numpy as np
    from pyspark.sql import functions as F

    from noaa_oracle_spark.pipeline.pq import pq_train, save_ivfpq_index
    from noaa_oracle_spark.pipeline.text import save_bm25_index

    base, _ = server
    texts = {
        1: "spark window hash join",
        2: "hash hash hash",
        3: "window functions rank",
        4: "totally unrelated prose",
        5: "spark hash",
        6: "prose about nothing",
        7: "join window join",
        8: "rank and file",
    }
    docs = spark.createDataFrame(
        sorted(texts.items()), "doc_id long, text string"
    )
    rng = np.random.RandomState(47)
    vecs = {i: rng.randn(8) for i in sorted(texts)}
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in sorted(vecs.items())],
        "doc_id long, embedding array<double>",
    )
    root = tmp_path_factory.mktemp("hybrid_batch_http")
    bpath, ppath = str(root / "bm25"), str(root / "pq")
    save_bm25_index(docs, bpath)
    books = pq_train(emb, m=4, k=4, iters=1, id_col="doc_id")
    cells = emb.filter(F.col("doc_id") <= 3).select("doc_id", "embedding")
    save_ivfpq_index(books, emb, cells, ppath, id_col="doc_id")

    queries = [
        {"terms": ["spark", "hash"], "vector": [float(x) for x in vecs[3]]},
        {"terms": ["window", "rank"], "vector": [float(x) for x in vecs[5]]},
        {"terms": ["join"], "vector": [float(x) for x in vecs[8]]},
    ]
    common = {
        "bm25": {"index_path": bpath},
        "knn": {"index_path": ppath, "nprobe": 2},
        "k": 3,
        "topk": 4,
        "rrf_k": 60,
    }
    status, batch_out = _post_json(
        f"{base}/search/hybrid", {**common, "queries": queries}
    )
    assert status == 200
    assert len(batch_out["results"]) == len(queries)

    for i, q in enumerate(queries):
        single = {
            **common,
            "bm25": {"index_path": bpath, "terms": q["terms"]},
            "knn": {
                "index_path": ppath,
                "vector": q["vector"],
                "nprobe": 2,
            },
        }
        status, out = _post_json(f"{base}/search/hybrid", single)
        assert status == 200
        assert batch_out["results"][i] == out["results"], i

    # flat vector leg (no nprobe): batch == N flat singles
    flat_common = {**common, "knn": {"index_path": ppath}}
    status, flat_batch = _post_json(
        f"{base}/search/hybrid", {**flat_common, "queries": queries}
    )
    assert status == 200
    for i, q in enumerate(queries):
        status, out = _post_json(
            f"{base}/search/hybrid",
            {
                **common,
                "bm25": {"index_path": bpath, "terms": q["terms"]},
                "knn": {"index_path": ppath, "vector": q["vector"]},
            },
        )
        assert status == 200
        assert flat_batch["results"][i] == out["results"], i

    for bad, frag in (
        ({**common, "queries": []}, "queries"),
        ({**common, "queries": [{"terms": ["a"]}]}, "vector"),
        (
            {**common, "queries": [{"vector": queries[0]["vector"]}]},
            "terms",
        ),
        (
            {
                **common,
                "knn": {"index_path": ppath, "nprobe": 0},
                "queries": queries,
            },
            "nprobe",
        ),
        (
            {
                **common,
                "bm25": {"index_path": bpath, "terms": ["x"]},
                "queries": queries,
            },
            "not both",
        ),
    ):
        code, msg = _post_error(f"{base}/search/hybrid", bad)
        assert code == 400 and frag in msg, (bad, code, msg)


def test_search_endpoints_follow_versioned_roots(
    server, spark, tmp_path_factory
):
    """The serve side of sink auto-compaction (r10 verdict ask #5): a
    request whose index_path is a VERSIONED ROOT (CURRENT pointer +
    versions/*) resolves to the live version, and {"reload": true}
    re-resolves — one request follows a compaction repoint without the
    client learning version names.  Checked for both tiers."""
    import numpy as np
    from pyspark.sql import functions as F

    from noaa_oracle_spark.pipeline.pq import pq_train
    from noaa_oracle_spark.streaming.corpus import (
        bm25_index_sink,
        init_versioned_pq_index,
        pq_index_sink,
        read_current_bm25_version,
    )

    base, _ = server
    d = tmp_path_factory.mktemp("versioned_serve")

    # --- BM25 root: sink-maintained, compacts during the appends ----
    broot = str(d / "bm_root")
    bsink = bm25_index_sink(broot, auto_compact_ratio=2.0)
    for b in range(8):
        rows = [
            (b * 3 + i, f"w{(b + i) % 4} w{(b + 2 * i) % 4}")
            for i in range(3)
        ]
        bsink(
            spark.createDataFrame(rows, "doc_id long, text string"), b
        )
    versions_b = read_current_bm25_version(spark, broot)
    assert versions_b is not None

    status, out = _post_json(
        f"{base}/search/bm25",
        {"index_path": broot, "terms": ["w1"], "k": 5},
    )
    assert status == 200 and out["n_docs"] == 24

    # grow + (maybe) repoint, then reload=true must see the new corpus
    bsink(
        spark.createDataFrame(
            [(100, "w1 w1"), (101, "w2 w3"), (102, "w0")],
            "doc_id long, text string",
        ),
        8,
    )
    status, out2 = _post_json(
        f"{base}/search/bm25",
        {"index_path": broot, "terms": ["w1"], "k": 5, "reload": True},
    )
    assert status == 200 and out2["n_docs"] == 27
    assert any(r["doc_id"] == 100 for r in out2["results"])

    # --- PQ root ------------------------------------------------------
    proot = str(d / "pq_root")
    rng = np.random.RandomState(59)
    vecs = rng.randn(80, 16)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(80)],
        "vec_id long, embedding array<double>",
    )
    pbase = emb.filter(F.col("vec_id") < 50)
    books = pq_train(pbase, m=4, k=8, iters=1)
    cells = emb.filter(F.col("vec_id") < 4)
    init_versioned_pq_index(spark, proot, books, pbase, cells=cells)
    psink = pq_index_sink(proot, auto_compact_ratio=2.0)
    for b in range(3):
        lo = 50 + b * 10
        psink(
            emb.filter(
                (F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 10)
            ),
            b,
        )
    qvec = [float(x) for x in vecs[75]]
    status, out = _post_json(
        f"{base}/search/knn",
        {
            "index_path": proot,
            "vector": qvec,
            "k": 3,
            "nprobe": 3,
            "reload": True,
        },
    )
    assert status == 200 and out["n_encoded"] == 80
    assert out["neighbors"][0]["vec_id"] == 75

    # /index/stats on the PQ root surfaces the sink's codebook-drift
    # series (r11 verdict ask #4): 3 same-distribution microbatches →
    # a present, flat drift row
    status, st = _post_json(
        f"{base}/index/stats", {"index_path": proot, "kind": "pq"}
    )
    assert status == 200 and st["n_encoded"] == 80
    assert st["drift"]["batches"] == 3
    assert st["drift"]["mse_first"] > 0
    assert 0.5 < st["drift"]["mse_ratio"] < 2.0  # stationary stream
    # flat (non-sink) PQ dirs have no series — no drift key
    # (covered by the flat /index/stats assertions in the stats test)

    # ---- POST /index/prune (r11 advice #4 over sockets): superseded
    # versions of the BM25 root are reclaimed, serving off CURRENT is
    # unaffected, and an uncommitted root 400s instead of deleting
    import os as _os

    n_versions = len(_os.listdir(f"{broot}/versions"))
    status, pr = _post_json(f"{base}/index/prune", {"root": broot})
    assert status == 200
    assert len(_os.listdir(f"{broot}/versions")) == 1
    assert len(pr["deleted"]) == n_versions - 1
    status, out3 = _post_json(
        f"{base}/search/bm25",
        {"index_path": broot, "terms": ["w1"], "k": 5, "reload": True},
    )
    assert status == 200 and out3["n_docs"] == 27
    code, msg = _post_error(
        f"{base}/index/prune", {"root": str(d / "nowhere")}
    )
    assert code == 400 and "refusing" in msg


def test_search_bm25_batch_and_index_stats(server, spark, tmp_path_factory):
    """POST /search/bm25 "queries" batch == N single requests, and
    POST /index/stats exposes the fragmentation poll signal (files,
    corpus size, and — on a versioned root — version + baseline +
    fragmentation ratio) without loading index data."""
    from noaa_oracle_spark.pipeline.text import (
        append_bm25_index,
        save_bm25_index,
    )
    from noaa_oracle_spark.streaming.corpus import bm25_index_sink

    base, _ = server
    d = tmp_path_factory.mktemp("bm25_batch_stats")
    path = str(d / "idx")
    save_bm25_index(
        spark.createDataFrame(
            [
                (1, "spark hash join"),
                (2, "hash window"),
                (3, "join join spark"),
                (4, "plain prose"),
            ],
            "doc_id long, text string",
        ),
        path,
    )
    append_bm25_index(
        spark,
        path,
        spark.createDataFrame(
            [(5, "spark spark"), (6, "window rank")],
            "doc_id long, text string",
        ),
    )

    queries = [["spark", "hash"], ["window"], ["join", "prose"]]
    status, batch_out = _post_json(
        f"{base}/search/bm25",
        {"index_path": path, "queries": queries, "k": 4},
    )
    assert status == 200 and len(batch_out["results"]) == 3
    for i, terms in enumerate(queries):
        status, single = _post_json(
            f"{base}/search/bm25",
            {"index_path": path, "terms": terms, "k": 4},
        )
        assert status == 200
        assert batch_out["results"][i] == single["results"], i

    for bad, frag in (
        ({"index_path": path, "queries": []}, "queries"),
        ({"index_path": path, "queries": [["a"], []]}, "queries[1]"),
        (
            {"index_path": path, "queries": queries, "terms": ["x"]},
            "not both",
        ),
    ):
        code, msg = _post_error(f"{base}/search/bm25", bad)
        assert code == 400 and frag in msg, (bad, code, msg)

    # ---- /index/stats: flat dir (no baseline), then a versioned root
    status, st = _post_json(
        f"{base}/index/stats", {"index_path": path, "kind": "bm25"}
    )
    assert status == 200
    assert st["n_docs"] == 6 and st["files"] >= 2
    assert "version" not in st and "baseline_files" not in st

    root = str(d / "vroot")
    sink = bm25_index_sink(root, auto_compact_ratio=100.0)  # never fires
    for b in range(3):
        sink(
            spark.createDataFrame(
                [(10 + b * 2, f"w{b} w{b + 1}"), (11 + b * 2, f"w{b}")],
                "doc_id long, text string",
            ),
            b,
        )
    status, st = _post_json(
        f"{base}/index/stats", {"index_path": root, "kind": "bm25"}
    )
    assert status == 200
    assert st["n_docs"] == 6 and st["version"].startswith("v")
    assert st["baseline_files"] >= 1
    assert st["fragmentation"] >= 1.0

    for bad in (
        {"kind": "bm25"},
        {"index_path": path},
        {"index_path": path, "kind": "nope"},
        {"index_path": "/nonexistent", "kind": "pq"},
    ):
        code, msg = _post_error(f"{base}/index/stats", bad)
        assert code == 400, (bad, code, msg)


def test_search_knn_flat_opq_index_rotates_single_and_batch(
    server, spark, tmp_path_factory
):
    """The FLAT serve path (no nprobe) must apply a stored OPQ rotation
    too — single and batch: a flat OPQ index's codes live in rotated
    space, so an unrotated probe would return wrong neighbors (the same
    bug class the celled path's rotation fix closed)."""
    import numpy as np
    from pyspark.sql import functions as F

    from noaa_oracle_spark.pipeline.pq import (
        opq_train_rotation,
        pq_encode,
        pq_train,
        rotate_embeddings,
        save_pq_index,
    )

    base, _ = server
    d = tmp_path_factory.mktemp("opq_flat_http")
    path = str(d / "idx")
    rng = np.random.RandomState(61)
    vecs = rng.randn(100, 16) * np.linspace(3.0, 0.2, 16)[None, :]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(100)],
        "vec_id long, embedding array<double>",
    )
    rot = opq_train_rotation(emb, m=4)
    rotated = rotate_embeddings(emb, rot)
    books = pq_train(rotated, m=4, k=8, iters=1)
    save_pq_index(books, pq_encode(rotated, books), path, rotation=rot)

    qids = [10, 55, 99]
    qvecs = [[float(x) for x in vecs[i]] for i in qids]
    # single: the raw query's corpus twin must rank first — only true
    # if the endpoint rotated the query into the index's space
    for i, v in zip(qids, qvecs):
        status, out = _post_json(
            f"{base}/search/knn",
            {"index_path": path, "vector": v, "k": 3},
        )
        assert status == 200
        assert out["neighbors"][0]["vec_id"] == i
    # batch == singles
    status, bout = _post_json(
        f"{base}/search/knn",
        {"index_path": path, "vectors": qvecs, "k": 3},
    )
    assert status == 200
    for idx_q, (i, v) in enumerate(zip(qids, qvecs)):
        status, single = _post_json(
            f"{base}/search/knn",
            {"index_path": path, "vector": v, "k": 3},
        )
        got = [
            (r["rank"], r["vec_id"], r["adc_dist"])
            for r in bout["results"][idx_q]
        ]
        want = [
            (r["rank"], r["vec_id"], r["adc_dist"])
            for r in single["neighbors"]
        ]
        assert sorted(got) == sorted(want), i


def test_index_merge_endpoint(server, spark, tmp_path_factory):
    """POST /index/merge consolidates shard indexes over HTTP: the
    merged BM25 index serves scores identical to one built over the
    concatenated corpus, the PQ merge serves ADC neighbors off the
    merged codes, and engine refusals (overlap, <2 paths, bad kind)
    surface as 400s."""
    import numpy as np

    from noaa_oracle_spark.pipeline.pq import (
        pq_encode,
        pq_train,
        save_pq_index,
    )
    from noaa_oracle_spark.pipeline.text import save_bm25_index

    base, _ = server
    d = tmp_path_factory.mktemp("merge_http")

    docs = spark.createDataFrame(
        [
            (1, "spark hash join"),
            (2, "hash window rank"),
            (3, "join join spark"),
            (4, "plain prose"),
            (5, "spark spark hash"),
            (6, "window rank"),
        ],
        "doc_id long, text string",
    )
    sa, sb = str(d / "sa"), str(d / "sb")
    save_bm25_index(docs.filter("doc_id <= 3"), sa)
    save_bm25_index(docs.filter("doc_id > 3"), sb)
    full = str(d / "full")
    save_bm25_index(docs, full)

    merged = str(d / "merged")
    status, out = _post_json(
        f"{base}/index/merge",
        {"kind": "bm25", "paths": [sa, sb], "out_path": merged},
    )
    assert status == 200 and out["merged"] == 2

    q = {"terms": ["spark", "hash"], "k": 6}
    status, got = _post_json(
        f"{base}/search/bm25", {"index_path": merged, **q}
    )
    status2, want = _post_json(
        f"{base}/search/bm25", {"index_path": full, **q}
    )
    assert status == status2 == 200
    assert got["results"] == want["results"]
    assert got["n_docs"] == 6

    # --- PQ flat shards ------------------------------------------------
    rng = np.random.RandomState(41)
    vecs = rng.randn(60, 16)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    books = pq_train(emb, m=4, k=8, iters=1)
    pa, pb = str(d / "pa"), str(d / "pb")
    save_pq_index(books, pq_encode(emb.filter("vec_id < 30"), books), pa)
    save_pq_index(books, pq_encode(emb.filter("vec_id >= 30"), books), pb)
    pm = str(d / "pm")
    status, out = _post_json(
        f"{base}/index/merge",
        {"kind": "pq", "paths": [pa, pb], "out_path": pm},
    )
    assert status == 200
    status, knn = _post_json(
        f"{base}/search/knn",
        {"index_path": pm, "vector": [float(x) for x in vecs[45]], "k": 2},
    )
    assert status == 200 and knn["n_encoded"] == 60
    assert knn["neighbors"][0]["vec_id"] == 45

    # --- refusals ------------------------------------------------------
    for bad, frag in (
        ({"kind": "x", "paths": [sa, sb], "out_path": str(d / "z")},
         "kind"),
        ({"kind": "bm25", "paths": [sa], "out_path": str(d / "z")},
         "paths"),
        ({"kind": "bm25", "paths": [sa, sa], "out_path": str(d / "z2")},
         "overlap"),
        ({"kind": "bm25", "paths": [sa, sb]}, "out_path"),
    ):
        code, msg = _post_error(f"{base}/index/merge", bad)
        assert code == 400 and frag in msg, (bad, code, msg)


def test_index_pq_retrain_endpoint(server, spark, tmp_path_factory):
    """POST /index/pq/retrain (the drift signal's closing action): a
    versioned root whose live codebooks were trained before a
    distribution shift retrains on the full source-of-truth corpus —
    new version committed, CURRENT repointed (one reload=true picks it
    up), neighbors identical to the deterministic from-scratch build —
    and the guards (partial corpus, bad paths) 400 with the engine's
    message."""
    import numpy as np
    from pyspark.sql import functions as F

    from noaa_oracle_spark.pipeline.pq import (
        append_pq_index,
        pq_train,
        save_ivfpq_index,
    )
    from noaa_oracle_spark.pipeline.similarity import lloyd_refine
    from noaa_oracle_spark.streaming.corpus import (
        init_versioned_pq_index,
        read_current_bm25_version,
        read_drift_metrics,
    )

    base, _ = server
    d = tmp_path_factory.mktemp("pq_http_retrain")
    root = str(d / "root")
    rng = np.random.RandomState(83)
    vecs = np.vstack([rng.randn(120, 16), rng.randn(40, 16) + 6.0])
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(160)],
        "vec_id long, embedding array<double>",
    )
    base_corp = emb.filter(F.col("vec_id") < 120)
    books = pq_train(base_corp, m=4, k=8, iters=1)
    cells = emb.filter(F.col("vec_id") < 4)
    init_versioned_pq_index(spark, root, books, base_corp, cells=cells)
    old_ver = read_current_bm25_version(spark, root)
    append_pq_index(
        spark, f"{root}/versions/{old_ver}",
        emb.filter(F.col("vec_id") >= 120),
    )

    corpus_path = str(d / "corpus")
    emb.write.parquet(corpus_path)
    partial_path = str(d / "partial")
    base_corp.write.parquet(partial_path)

    status, out = _post_json(
        f"{base}/index/pq/retrain",
        {"root": root, "corpus_path": corpus_path, "serve": True},
    )
    assert status == 200
    assert out["drift_series_reset"] is True
    new_ver = read_current_bm25_version(spark, root)
    assert new_ver != old_ver
    assert out["version_path"].endswith(new_ver)
    assert read_drift_metrics(spark, out["version_path"]) == []

    # serving through the ROOT follows the repoint and equals the
    # deterministic from-scratch build over the same corpus
    expect_path = str(d / "expected")
    books2 = pq_train(emb, m=4, k=8, iters=2)
    cells2 = lloyd_refine(emb, k=4, iters=2)
    save_ivfpq_index(books2, emb, cells2, expect_path)
    qvec = [float(x) for x in vecs[150]]
    status, got = _post_json(
        f"{base}/search/knn",
        {"index_path": root, "vector": qvec, "k": 3, "nprobe": 2,
         "reload": True},
    )
    status2, want = _post_json(
        f"{base}/search/knn",
        {"index_path": expect_path, "vector": qvec, "k": 3, "nprobe": 2},
    )
    assert status == 200 and status2 == 200
    assert got["neighbors"] == want["neighbors"]
    assert got["n_encoded"] == 160

    for bad in (
        {"corpus_path": corpus_path},
        {"root": root},
        {"root": root, "corpus_path": str(d / "nowhere")},
        {"root": root, "corpus_path": corpus_path, "iters": 0},
        {"root": str(d / "uninit"), "corpus_path": corpus_path},
    ):
        code, msg = _post_error(f"{base}/index/pq/retrain", bad)
        assert code == 400, (bad, code, msg)
    code, msg = _post_error(
        f"{base}/index/pq/retrain",
        {"root": root, "corpus_path": partial_path},
    )
    assert code == 400 and "shrink" in msg
