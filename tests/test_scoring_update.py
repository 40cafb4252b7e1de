"""POST /oracle/update with the default weather provider over a snapshot
store: the golden event is scored from one forecast scan and one
daily-observations read, in at most three Spark jobs.

The store holds the golden mock weather of the reference's e2e ETL test
(etl_workflow.rs:394-526) as snapshots: one 24 h forecast row per station,
and two observations per station whose daily extremes are the mock's.
The update runs on its own thread, outside any job group, so its jobs are
counted as the ungrouped jobs that appear while it runs.
"""

from __future__ import annotations

import time
from datetime import datetime, timezone

import pytest

from noaa_oracle_spark.http_service import serve_background
from noaa_oracle_spark.sources.catalog import snapshot_path
from tests.test_eventstore_etl import EVENT_ID, _ts
from tests.test_http_service import _get_json, _post_json
from tests.test_scoring_golden import (
    CHOICE_COLUMNS,
    CHOICES,
    EXPECTED,
    FORECASTS,
    OBSERVATIONS,
)
from tests.weather_fixtures import (
    FCST_NEW_FIELDS,
    OBS_NEW_FIELDS,
    _fc_row,
    _write,
    rfc,
)

UTC = timezone.utc
START = datetime(2024, 8, 12, tzinfo=UTC)
END = datetime(2024, 8, 13, tzinfo=UTC)
FORECAST_AT = datetime(2024, 8, 11, 12, tzinfo=UTC)
OBSERVED_AT = datetime(2024, 8, 12, 12, tzinfo=UTC)


def _write_golden_store(data_dir: str) -> None:
    fc_rows = [
        _fc_row(
            s, 0, 0, 24,
            generated_at=rfc(FORECAST_AT), begin_time=rfc(START),
            end_time=rfc(END), min_temp=tl, max_temp=th, wind_speed=w,
        )
        for s, tl, th, w in FORECASTS
    ]
    _write(snapshot_path(data_dir, "forecasts", FORECAST_AT), fc_rows,
           FCST_NEW_FIELDS)
    obs_rows = [
        {"station_id": s, "generated_at": rfc(OBSERVED_AT),
         "temperature_value": t, "temperature_unit_code": "fahrenheit",
         "wind_speed": w}
        for s, tl, th, w in OBSERVATIONS
        for t in (tl, th)
    ]
    _write(snapshot_path(data_dir, "observations", OBSERVED_AT), obs_rows,
           OBS_NEW_FIELDS)


@pytest.fixture()
def golden_server(spark, tmp_path):
    d = str(tmp_path / "store")
    _write_golden_store(d)
    srv, _ = serve_background(spark, d)
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    _post_json(f"{base}/oracle/events", {
        "id": EVENT_ID,
        "total_allowed_entries": 4,
        "number_of_places_win": 3,
        "number_of_values_per_entry": 6,
        "signing_date": _ts("2024-08-13T03:00:00Z"),
        "start_observation_date": int(START.timestamp()),
        "end_observation_date": int(END.timestamp()),
        "locations": ["PFNO", "KSAW", "PAPG", "KWMC"],
    })
    by_entry: dict[str, list[dict]] = {}
    for row in CHOICES:
        choice = dict(zip(CHOICE_COLUMNS, row))
        by_entry.setdefault(choice.pop("entry_id"), []).append(choice)
    _post_json(f"{base}/oracle/events/{EVENT_ID}/entries", {
        "entries": [{"id": e, "choices": c} for e, c in by_entry.items()]})
    yield base
    srv.shutdown()
    srv.server_close()


def test_update_scores_golden_entries_in_three_jobs(spark, golden_server):
    base = golden_server
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    _, kicked = _post_json(f"{base}/oracle/update", {})
    for _ in range(480):
        task = _get_json(f"{base}{kicked['status']}")
        if task["state"] != "running":
            break
        time.sleep(0.25)
    jobs = set(tracker.getJobIdsForGroup(None)) - before
    assert task["state"] == "completed", task
    assert task["events_scored"] == [EVENT_ID]
    assert 1 <= len(jobs) <= 3, sorted(jobs)

    got = {}
    for e in EXPECTED:
        row = _get_json(f"{base}/oracle/events/{EVENT_ID}/entries/{e}")
        got[e] = (row["score"], row["base_score"])
    assert got == EXPECTED
