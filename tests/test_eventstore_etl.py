"""End-to-end event lifecycle: create event → add the golden entries → run
the scoring cycle with the golden mock weather → exact scores land in the
store → winners selected. Mirrors the reference's e2e ETL test flow
(crates/oracle/tests/api/etl_workflow.rs:62-392).
"""

from __future__ import annotations

from datetime import datetime, timezone

import pytest

from noaa_oracle_spark.etl import run_scoring_cycle
from noaa_oracle_spark.eventstore import EventStore, get_status
from tests.test_scoring_golden import (
    CHOICES,
    E1,
    E2,
    E3,
    E4,
    EXPECTED,
    uuid_v7_at,
    weather_values,
)

UTC = timezone.utc
EVENT_ID = uuid_v7_at("2024-08-10T12:00:00Z")


def _ts(iso: str) -> int:
    return int(datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp())


@pytest.fixture()
def store(spark, tmp_path):
    s = EventStore(spark, str(tmp_path / "eventstore"))
    s.create_event(
        EVENT_ID,
        total_allowed_entries=4,
        number_of_places_win=3,
        number_of_values_per_entry=6,
        signing_date=_ts("2024-08-13T03:00:00Z"),
        start_observation_date=_ts("2024-08-12T00:00:00Z"),
        end_observation_date=_ts("2024-08-13T00:00:00Z"),
        locations=["PFNO", "KSAW", "PAPG", "KWMC"],
    )
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
    s.add_entries(
        EVENT_ID,
        [{"id": eid, "choices": ch} for eid, ch in by_entry.items()],
    )
    return s


def test_full_lifecycle_golden(spark, store):
    # clock inside the observation window → event is Running, gets scored
    now = datetime(2024, 8, 12, 12, tzinfo=UTC)
    fc, ob = weather_values()
    results = run_scoring_cycle(store, fc, ob, now)
    assert EVENT_ID in results
    got = {e: (t, b) for e, t, b in results[EVENT_ID]["scores"]}
    assert got == EXPECTED
    # scores persisted
    persisted = {
        r["id"]: (r["score"], r["base_score"])
        for r in store.event_entries(EVENT_ID).collect()
    }
    assert persisted == EXPECTED
    assert results[EVENT_ID]["winners"] is None  # not past signing yet

    # clock past signing date → Completed + winners picked
    later = datetime(2024, 8, 13, 4, tzinfo=UTC)
    results2 = run_scoring_cycle(store, fc, ob, later)
    assert results2[EVENT_ID]["winners"] == [0, 2, 1]
    wb = results2[EVENT_ID]["winner_bytes"]
    assert wb == b"".join(i.to_bytes(8, "big") for i in (0, 2, 1))


def test_status_derivation():
    start, end = _ts("2024-08-12T00:00:00Z"), _ts("2024-08-13T00:00:00Z")
    at = lambda iso: datetime.fromisoformat(iso.replace("Z", "+00:00"))  # noqa: E731
    assert get_status(None, start, end, at("2024-08-11T00:00:00Z")) == "live"
    assert get_status(None, start, end, at("2024-08-12T12:00:00Z")) == "running"
    assert get_status(None, start, end, at("2024-08-14T00:00:00Z")) == "completed"
    assert get_status(b"sig", start, end, at("2024-08-11T00:00:00Z")) == "signed"


def test_store_validations(spark, store):
    with pytest.raises(ValueError, match="UUIDv7"):
        store.create_event(
            "not-a-uuid" if False else "00000000-0000-4000-8000-000000000000",
            total_allowed_entries=1, number_of_places_win=1,
            number_of_values_per_entry=1, signing_date=3,
            start_observation_date=1, end_observation_date=2, locations=["X"],
        )
    with pytest.raises(ValueError, match="already exists"):
        store.create_event(
            EVENT_ID, total_allowed_entries=1, number_of_places_win=1,
            number_of_values_per_entry=1,
            signing_date=_ts("2024-08-13T03:00:00Z"),
            start_observation_date=_ts("2024-08-12T00:00:00Z"),
            end_observation_date=_ts("2024-08-13T00:00:00Z"), locations=["X"],
        )
    with pytest.raises(ValueError, match="exceeds total_allowed_entries"):
        store.add_entries(
            EVENT_ID, [{"id": uuid_v7_at("2024-08-11T01:00:00Z"), "choices": []}]
        )
    # station validation needs an event with entry headroom
    ev2 = uuid_v7_at("2024-08-10T13:00:00Z")
    store.create_event(
        ev2, total_allowed_entries=2, number_of_places_win=1,
        number_of_values_per_entry=6,
        signing_date=_ts("2024-08-13T03:00:00Z"),
        start_observation_date=_ts("2024-08-12T00:00:00Z"),
        end_observation_date=_ts("2024-08-13T00:00:00Z"), locations=["KSAW"],
    )
    with pytest.raises(ValueError, match="not in event locations"):
        store.add_entries(
            ev2,
            [{"id": uuid_v7_at("2024-08-11T01:00:00Z"), "choices": [
                {"station": "KNOPE", "temp_low": "over"}]}],
        )
    tally = {r["status"]: r["count"] for r in store.status_tally(
        datetime(2024, 8, 11, tzinfo=UTC)).collect()}
    assert tally == {"live": 2}


def _create(store, ev):
    store.create_event(
        ev, total_allowed_entries=4, number_of_places_win=1,
        number_of_values_per_entry=3, signing_date=2_000_000_000,
        start_observation_date=1_700_000_000,
        end_observation_date=1_700_086_400, locations=["KATL"],
    )


def _event_ids(spark, path):
    return {r["id"] for r in EventStore(spark, path).read("events").collect()}


def test_read_recovers_parked_snapshot(spark, tmp_path):
    """A crash between the publication renames leaves only `.old`: the next
    open must restore it instead of silently serving an empty table, and
    the reopened store takes the next mutation."""
    import os

    ev1, ev2 = (uuid_v7_at(f"2024-08-10T1{h}:00:00Z") for h in (5, 6))
    store = EventStore(spark, str(tmp_path / "events"))
    _create(store, ev1)
    p = store._table_path("events")
    os.rename(p, p + ".old")  # died after parking the live state
    reopened = EventStore(spark, store.path)
    assert _event_ids(spark, store.path) == {ev1}
    assert not os.path.exists(p + ".old")
    _create(reopened, ev2)
    assert _event_ids(spark, store.path) == {ev1, ev2}


def test_live_state_beats_parked_copy(spark, tmp_path):
    """A crash after publication but before cleanup leaves the live state
    and `.old`: the live state wins, `.old` is removed, and the reopened
    store takes the next mutation."""
    import os
    import shutil

    ev1, ev2, ev3 = (uuid_v7_at(f"2024-08-10T1{h}:00:00Z") for h in (5, 6, 7))
    store = EventStore(spark, str(tmp_path / "events"))
    _create(store, ev1)
    p = store._table_path("events")
    parked = str(tmp_path / "parked")
    shutil.copytree(p, parked)
    _create(store, ev2)
    os.rename(parked, p + ".old")  # died before deleting the parked copy
    reopened = EventStore(spark, store.path)
    assert _event_ids(spark, store.path) == {ev1, ev2}
    assert not os.path.exists(p + ".old")
    _create(reopened, ev3)
    assert _event_ids(spark, store.path) == {ev1, ev2, ev3}


def test_stale_new_dir_is_harmless(spark, tmp_path):
    """A writer that died mid-write leaves a `.new` holding a torn part
    file; the next mutation overwrites it and publishes a readable table."""
    import os

    ev1, ev2 = (uuid_v7_at(f"2024-08-10T1{h}:00:00Z") for h in (5, 6))
    store = EventStore(spark, str(tmp_path / "events"))
    _create(store, ev1)
    p = store._table_path("events")
    os.makedirs(p + ".new")
    with open(os.path.join(p + ".new", "part-00000.parquet"), "wb") as fh:
        fh.write(b"PAR1torn")
    _create(store, ev2)
    assert _event_ids(spark, store.path) == {ev1, ev2}
    assert sorted(os.listdir(os.path.dirname(p))) == ["current.parquet"]


def test_open_reads_a_spark_written_table(spark, tmp_path):
    """Stores written before the Arrow snapshots hold each table as a Spark
    output directory (`part-*.snappy.parquet` plus `_SUCCESS`); they must
    reopen with the same rows and accept mutations on top."""
    import os

    from noaa_oracle_spark.eventstore.store import _TABLES

    path = str(tmp_path / "spark_written")
    ev = uuid_v7_at("2024-08-10T16:00:00Z")
    entry = uuid_v7_at("2024-08-10T16:30:00Z")
    rows = {
        "events": [(
            ev, 4, 1, 3, 2_000_000_000, 1_700_000_000, 1_700_086_400,
            ["KATL", "KBOS"], "pub", b"\x00\x01", None, b"sig",
            ["temp_high"],
        )],
        "events_entries": [(entry, ev, 7, 3)],
        "expected_observations": [
            (entry, "KATL", None, "over", None, None, None, None, None),
        ],
    }
    layout = EventStore(spark, path)
    for table, data in rows.items():
        p = layout._table_path(table)
        spark.createDataFrame(data, _TABLES[table]).coalesce(1).write.parquet(p)
        names = sorted(os.listdir(p))
        assert "_SUCCESS" in names
        assert any(n.startswith("part-") and n.endswith(".snappy.parquet")
                   for n in names)

    store = EventStore(spark, path)
    for table, data in rows.items():
        want = spark.createDataFrame(data, _TABLES[table]).collect()
        assert store.read(table).collect() == want, table
    store.update_entry_scores([(entry, 9, None)])
    (got,) = EventStore(spark, path).event_entries(ev).collect()
    assert (got["score"], got["base_score"]) == (9, 3)
