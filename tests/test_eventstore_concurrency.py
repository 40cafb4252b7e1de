"""Single-writer serialization under concurrent mutations — the property
the reference gets from its mpsc writer channel (sqlite.rs:24-72) — and
readers running beside that writer."""

from __future__ import annotations

import sys
import threading
import time
import uuid

import pytest
from noaa_oracle_spark.eventstore import EventStore


def uuid_v7(ms: int, seq: int) -> str:
    b = ms.to_bytes(6, "big") + bytes([0x70, seq % 256, 0x80] + [0] * 7)
    return str(uuid.UUID(bytes=b))


def test_concurrent_entry_adds_serialize(spark, tmp_path):
    store = EventStore(spark, str(tmp_path / "ev"))
    eid = uuid_v7(1_700_000_000_000, 0)
    store.create_event(
        eid,
        total_allowed_entries=20,
        number_of_places_win=3,
        number_of_values_per_entry=2,
        signing_date=3_000_000_000,
        start_observation_date=2_000_000_000,
        end_observation_date=2_500_000_000,
        locations=["KAAA"],
    )

    errors: list[Exception] = []

    def add(batch: int) -> None:
        try:
            store.add_entries(
                eid,
                [
                    {
                        "id": uuid_v7(1_700_000_001_000 + batch, i),
                        "choices": [{"station": "KAAA", "temp_high": "over"}],
                    }
                    for i in range(2)
                ],
            )
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [threading.Thread(target=add, args=(b,)) for b in range(5)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    assert not errors, errors
    # every batch landed exactly once — no lost updates from racing writers
    entries = store.event_entries(eid).collect()
    assert len(entries) == 10
    assert len({r["id"] for r in entries}) == 10
    _ids, choices = store.entries_and_choices(eid)
    assert len(choices) == 10


def test_concurrent_score_updates_last_write_consistent(spark, tmp_path):
    store = EventStore(spark, str(tmp_path / "ev2"))
    eid = uuid_v7(1_700_000_000_000, 1)
    store.create_event(
        eid, total_allowed_entries=4, number_of_places_win=1,
        number_of_values_per_entry=1, signing_date=3_000_000_000,
        start_observation_date=2_000_000_000,
        end_observation_date=2_500_000_000, locations=["KAAA"],
    )
    ids = [uuid_v7(1_700_000_002_000, i) for i in range(4)]
    store.add_entries(eid, [{"id": i, "choices": []} for i in ids])

    def update(score: int) -> None:
        store.update_entry_scores([(i, score, score // 1000) for i in ids])

    threads = [threading.Thread(target=update, args=(s,)) for s in (1000, 2000, 3000)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    rows = store.event_entries(eid).collect()
    scores = {r["score"] for r in rows}
    # serialized writes → ONE batch won wholesale; no torn mix of batches
    assert len(scores) == 1 and scores.issubset({1000, 2000, 3000})


def _create(store: EventStore, eid: str) -> None:
    store.create_event(
        eid, total_allowed_entries=20, number_of_places_win=3,
        number_of_values_per_entry=2, signing_date=3_000_000_000,
        start_observation_date=2_000_000_000,
        end_observation_date=2_500_000_000, locations=["KAAA", "KBBB"],
    )


def _entries(ms: int, n: int) -> list[dict]:
    return [
        {"id": uuid_v7(ms, i),
         "choices": [{"station": "KAAA", "temp_high": "over"}]}
        for i in range(n)
    ]


def test_frame_taken_before_a_mutation_keeps_its_rows(spark, tmp_path):
    """A frame built before a mutation reads the snapshot it was built
    over; the publication under it must not delete what it reads."""
    store = EventStore(spark, str(tmp_path / "ev3"))
    first = uuid_v7(1_700_000_000_000, 2)
    _create(store, first)
    before = store.event_summaries()
    _create(store, uuid_v7(1_700_000_000_000, 3))
    assert [r["id"] for r in before.collect()] == [first]
    assert len(store.event_summaries().collect()) == 2


def test_readers_beside_the_writer_never_fail(spark, tmp_path):
    store = EventStore(spark, str(tmp_path / "ev4"))
    eid = uuid_v7(1_700_000_000_000, 4)
    done = threading.Event()
    errors: list[Exception] = []
    reads = [0] * 4

    def reader(i: int) -> None:
        try:
            while True:
                last = done.is_set()
                store.event_summaries().collect()
                store.event_entries(eid).collect()
                # one snapshot per read: every batch adds one choice per
                # entry, so a torn pair of tables would show here
                _ids, choices = store.entries_and_choices(eid)
                assert len(choices) % 2 == 0, len(choices)
                reads[i] += 1
                if last:
                    return
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [threading.Thread(target=reader, args=(i,)) for i in range(4)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    ids: list[str] = []
    try:
        for t in threads:
            t.start()
        _create(store, eid)
        for batch in range(3):
            new = _entries(1_700_000_003_000 + batch, 2)
            store.add_entries(eid, new)
            ids += [e["id"] for e in new]
            time.sleep(0.2)
        store.update_entry_scores([(i, 10, 1) for i in ids])
        store.update_event_attestation(eid, b"\x01" * 64)
    finally:
        done.set()
        for t in threads:
            t.join(timeout=120)
        sys.setswitchinterval(switch)

    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert min(reads) >= 1
    (summary,) = store.event_summaries().collect()
    assert summary["total_entries"] == 6
    assert summary["attestation"] == bytearray(b"\x01" * 64)
    entries = store.event_entries(eid).collect()
    assert sorted(r["id"] for r in entries) == sorted(ids)
    assert {(r["score"], r["base_score"]) for r in entries} == {(10, 1)}
    assert len(store.entries_and_choices(eid)[1]) == 6


def test_mutations_launch_no_spark_job(spark, tmp_path):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = EventStore(spark, str(tmp_path / "ev5"))
    eid = uuid_v7(1_700_000_000_000, 5)
    new = _entries(1_700_000_004_000, 2)
    ids = [e["id"] for e in new]
    mutations = {
        "create": lambda: _create(store, eid),
        "entries": lambda: store.add_entries(eid, new),
        "scores": lambda: store.update_entry_scores(
            [(i, 5, 0) for i in ids]),
        "attest": lambda: store.update_event_attestation(eid, b"sig"),
    }
    try:
        for name, run in mutations.items():
            group = f"eventstore-{name}-{uuid.uuid4().hex}"
            sc.setJobGroup(group, name)
            run()
            assert tracker.getJobIdsForGroup(group) == [], name
        # the counter sees jobs at all: an aggregate in a group shows up
        group = f"eventstore-probe-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "probe")
        spark.range(8).selectExpr("sum(id)").collect()
        assert tracker.getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    (row,) = store.event_summaries().collect()
    assert row["total_entries"] == 2
    assert row["attestation"] == bytearray(b"sig")
