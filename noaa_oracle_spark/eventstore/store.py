"""Event tables held as immutable Arrow snapshots by a single writer.

The reference keeps event/entry/weather state in SQLite behind a
single-writer mpsc channel — every mutation is serialized through one
writer task (crates/oracle/src/db/sqlite.rs:24-72); schema from
crates/oracle/migrations/20250111000001_initial_schema.sql:1-88. Spark has
no OLTP layer, and the reference's write volume (≤ 25 entries/event, hourly
ETL) doesn't need one. The one `EventStore` of a process owns each table as
an immutable `pyarrow.Table`, loaded once from parquet at open. A mutation
validates against it in plain Python under the writer lock, writes the new
table with `pq.write_table`, publishes it with `statedir.publish` and swaps
the snapshot in one assignment: no Spark job, no parquet re-read. A read
builds its DataFrame from the snapshot it sees (a local relation over no
file), so a frame taken before a mutation keeps its rows and no read races
a publication on disk.

Event status is never stored — derived from the clock at read time
(db/mod.rs:513-533), reproduced by `get_status`/`status_column`.

Scale note: these tables are tiny dimensions next to the weather facts. The
pattern at 100 TB stays the same — dimension mutations serialize through a
driver/service-side writer; analytical joins read immutable snapshots and
broadcast them.
"""

from __future__ import annotations

import os
import threading
import uuid as uuidlib
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from noaa_oracle_spark.incremental import statedir

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),  # UUIDv7
        T.StructField("total_allowed_entries", T.LongType(), False),
        T.StructField("number_of_places_win", T.LongType(), False),
        T.StructField("number_of_values_per_entry", T.LongType(), False),
        T.StructField("signing_date", T.LongType(), False),  # epoch s
        T.StructField("start_observation_date", T.LongType(), False),
        T.StructField("end_observation_date", T.LongType(), False),
        T.StructField("locations", T.ArrayType(T.StringType()), False),
        T.StructField("coordinator_pubkey", T.StringType(), True),
        T.StructField("nonce", T.BinaryType(), True),
        T.StructField("event_announcement", T.BinaryType(), True),
        T.StructField("attestation_signature", T.BinaryType(), True),
        T.StructField("scoring_fields", T.ArrayType(T.StringType()), False),
    ]
)

ENTRIES_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),  # UUIDv7 — tiebreaker
        T.StructField("event_id", T.StringType(), False),
        T.StructField("score", T.LongType(), True),
        T.StructField("base_score", T.LongType(), True),
    ]
)

CHOICES_SCHEMA = T.StructType(
    [
        T.StructField("entry_id", T.StringType(), False),
        T.StructField("station", T.StringType(), False),
        T.StructField("temp_low", T.StringType(), True),
        T.StructField("temp_high", T.StringType(), True),
        T.StructField("wind_speed", T.StringType(), True),
        T.StructField("wind_direction", T.StringType(), True),
        T.StructField("rain_amt", T.StringType(), True),
        T.StructField("snow_amt", T.StringType(), True),
        T.StructField("humidity", T.StringType(), True),
    ]
)

_TABLES = {
    "events": EVENTS_SCHEMA,
    "events_entries": ENTRIES_SCHEMA,
    "expected_observations": CHOICES_SCHEMA,
}
_ARROW = {table: to_arrow_schema(schema) for table, schema in _TABLES.items()}

VALUE_OPTIONS = {"over", "par", "under"}
SCORING_FIELDS = {
    "temp_low", "temp_high", "wind_speed", "wind_direction",
    "rain_amt", "snow_amt", "humidity",
}


def get_status(
    attestation: bytes | None,
    start_observation_date: int,
    end_observation_date: int,
    now: datetime | None = None,
) -> str:
    """Derived event lifecycle (db/mod.rs:513-533): Signed if attested,
    else Live/Running/Completed by clock vs the observation window."""
    if attestation is not None:
        return "signed"
    now_s = int((now or datetime.now(timezone.utc)).timestamp())
    if now_s < start_observation_date:
        return "live"
    if now_s < end_observation_date:
        return "running"
    return "completed"


def status_column(now: datetime | None = None) -> Column:
    """Same derivation as a Column over the events table (for A9-style
    status tallies, routes/ui/fragments.rs:47-65)."""
    now_s = int((now or datetime.now(timezone.utc)).timestamp())
    return (
        F.when(F.col("attestation_signature").isNotNull(), "signed")
        .when(F.lit(now_s) < F.col("start_observation_date"), "live")
        .when(F.lit(now_s) < F.col("end_observation_date"), "running")
        .otherwise("completed")
    )


def _validate_uuid_v7(s: str) -> None:
    u = uuidlib.UUID(s)
    if u.version != 7:
        raise ValueError(f"id must be UUIDv7, got version {u.version}: {s}")


class EventStore:
    """Single writer over `path/{table}/current.parquet`, serving reads from
    one immutable Arrow snapshot per table (see the module docstring)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._lock = threading.Lock()  # the DatabaseWriter serialization
        os.makedirs(path, exist_ok=True)
        self._snapshot = {table: self._load(table) for table in _TABLES}

    # -- storage primitives -------------------------------------------------

    def _table_path(self, table: str) -> str:
        return os.path.join(self.path, table, "current.parquet")

    def _load(self, table: str) -> pa.Table:
        p = self._table_path(table)
        statedir.recover(p)  # heal a crash between publication renames
        if not os.path.exists(p):
            return _ARROW[table].empty_table()
        return pq.read_table(p).cast(_ARROW[table])

    def _frames(self, *tables: str) -> list[DataFrame]:
        """DataFrames over ONE snapshot, so a read joining two tables
        never sees half of a mutation."""
        snap = self._snapshot
        return [self.spark.createDataFrame(snap[t], _TABLES[t])
                for t in tables]

    def read(self, table: str) -> DataFrame:
        return self._frames(table)[0]

    def _overwrite(self, table: str, data: pa.Table) -> None:
        """Write `data` beside the table and publish it as the new snapshot
        (`statedir.publish`; the caller holds the writer lock). A `.new`
        left by a crash holds only the two files rewritten here. The
        schema is not stored: `_load` casts to `_ARROW`."""
        p = self._table_path(table)
        tmp = p + ".new"
        os.makedirs(tmp, exist_ok=True)
        pq.write_table(data, os.path.join(tmp, "part-00000.parquet"),
                       store_schema=False)
        statedir.publish(p, tmp, {"rows": data.num_rows})

    def _rows(self, table: str) -> list[dict]:
        return self._snapshot[table].to_pylist()

    def _commit(self, **rows: list[dict]) -> None:
        """Publish each table's new rows, then swap the snapshot dict in one
        assignment: readers see a mutation's tables change together."""
        new = {t: pa.Table.from_pylist(r, schema=_ARROW[t])
               for t, r in rows.items()}
        for table, data in new.items():
            self._overwrite(table, data)
        self._snapshot = {**self._snapshot, **new}

    # -- mutations (all serialized) ----------------------------------------

    def create_event(
        self,
        event_id: str,
        *,
        total_allowed_entries: int,
        number_of_places_win: int,
        number_of_values_per_entry: int,
        signing_date: int,
        start_observation_date: int,
        end_observation_date: int,
        locations: list[str],
        scoring_fields: list[str] | None = None,
        coordinator_pubkey: str | None = None,
        nonce: bytes | None = None,
        event_announcement: bytes | None = None,
    ) -> None:
        """Validations mirror oracle.rs:181-214 / mod.rs:85-170: UUIDv7 id,
        date ordering, entry caps (≤ 25 entries, ≤ 5 places)."""
        _validate_uuid_v7(event_id)
        if not start_observation_date < end_observation_date:
            raise ValueError("start_observation_date must precede end")
        if not end_observation_date <= signing_date:
            raise ValueError("signing_date must not precede the window end")
        if total_allowed_entries > 25:
            raise ValueError("total_allowed_entries capped at 25")
        if number_of_places_win > 5:
            raise ValueError("number_of_places_win capped at 5")
        fields = list(scoring_fields or ["temp_high", "temp_low", "wind_speed"])
        bad = set(fields) - SCORING_FIELDS
        if bad:
            raise ValueError(f"unknown scoring fields: {sorted(bad)}")
        row = dict(zip(EVENTS_SCHEMA.names, (
            event_id, total_allowed_entries, number_of_places_win,
            number_of_values_per_entry, signing_date, start_observation_date,
            end_observation_date, list(locations), coordinator_pubkey,
            nonce, event_announcement, None, fields,
        )))
        with self._lock:
            events = self._rows("events")
            if any(r["id"] == event_id for r in events):
                raise ValueError(f"event {event_id} already exists")
            self._commit(events=events + [row])

    def add_entries(
        self, event_id: str, entries: list[dict]
    ) -> None:
        """entries: [{id, choices: [{station, temp_low, ...}, ...]}, ...].
        Validations mirror oracle.rs:275-331: UUIDv7 ids, entry count ≤
        allowed, stations ⊆ event.locations, choice values ∈ over/par/under,
        values-per-entry cap."""
        with self._lock:
            ev = next(
                (r for r in self._rows("events") if r["id"] == event_id), None
            )
            if ev is None:
                raise ValueError(f"no such event {event_id}")
            cur_entries = self._rows("events_entries")
            existing = sum(r["event_id"] == event_id for r in cur_entries)
            if existing + len(entries) > ev["total_allowed_entries"]:
                raise ValueError("entry count exceeds total_allowed_entries")
            entry_rows, choice_rows = [], []
            for e in entries:
                _validate_uuid_v7(e["id"])
                n_values = 0
                for c in e.get("choices", []):
                    if c["station"] not in ev["locations"]:
                        raise ValueError(
                            f"station {c['station']} not in event locations"
                        )
                    vals = {
                        k: v
                        for k, v in c.items()
                        if k != "station" and v is not None
                    }
                    for k, v in vals.items():
                        if k not in SCORING_FIELDS:
                            raise ValueError(f"unknown field {k}")
                        if v not in VALUE_OPTIONS:
                            raise ValueError(f"bad choice value {v!r}")
                    n_values += len(vals)
                    choice_rows.append(
                        {"entry_id": e["id"], "station": c["station"], **vals}
                    )
                if n_values > ev["number_of_values_per_entry"]:
                    raise ValueError("too many values for entry")
                entry_rows.append({"id": e["id"], "event_id": event_id})
            self._commit(
                events_entries=cur_entries + entry_rows,
                expected_observations=(
                    self._rows("expected_observations") + choice_rows
                ),
            )

    def update_entry_scores(self, scores: list[tuple[str, int, int]]) -> None:
        """Batch score update (sqlite.rs:569-593): [(entry_id, total, base)].
        A score or base given as None keeps the stored value (COALESCE)."""
        if not scores:
            return
        updates = {s[0]: (s[1], s[2]) for s in scores}
        with self._lock:
            rows = self._rows("events_entries")
            for r in rows:
                if r["id"] in updates:
                    score, base = updates[r["id"]]
                    if score is not None:
                        r["score"] = score
                    if base is not None:
                        r["base_score"] = base
            self._commit(events_entries=rows)

    def update_event_attestation(
        self, event_id: str, attestation: bytes
    ) -> None:
        with self._lock:
            rows = self._rows("events")
            for r in rows:
                if r["id"] == event_id:
                    r["attestation_signature"] = attestation
            self._commit(events=rows)

    # -- reads --------------------------------------------------------------

    def events_with_status(self, now: datetime | None = None) -> DataFrame:
        return self.read("events").withColumn("status", status_column(now))

    def _with_entry_counts(self, now: datetime | None) -> DataFrame:
        """Events with status LEFT JOIN their entry COUNT, COALESCE(0)."""
        events, entries = self._frames("events", "events_entries")
        events = events.withColumn("status", status_column(now))
        counts = entries.groupBy("event_id").agg(
            F.count("id").alias("total_entries")
        )
        return events.join(
            counts, events.id == counts.event_id, "left"
        ).select(
            events["*"],
            F.coalesce("total_entries", F.lit(0)).alias("total_entries"),
        )

    def event_summaries(
        self,
        event_ids: list[str] | None = None,
        limit: int | None = 100,
        now: datetime | None = None,
    ) -> DataFrame:
        """EventFilter list projection (db/mod.rs:197-209 EventFilter,
        db/mod.rs:470-502 EventSummary, sqlite.rs:614-646): optional id
        IN-list, LEFT JOIN entries + COUNT per event, LIMIT (reference
        default 100). Column order mirrors EventSummary's field order.
        The reference then attaches per-event weather readings
        (sqlite.rs:608-610); this store keeps no weather table — the
        column is an always-empty array, documented twin divergence."""
        events = self._with_entry_counts(now)
        if event_ids is not None:
            events = events.filter(F.col("id").isin(list(event_ids)))
        out = events.select(
            "id",
            "signing_date",
            "start_observation_date",
            "end_observation_date",
            "locations",
            "number_of_values_per_entry",
            "status",
            "total_allowed_entries",
            "total_entries",
            "number_of_places_win",
            F.array().cast("array<string>").alias("weather"),
            F.col("attestation_signature").alias("attestation"),
            "nonce",
        )
        if limit is not None:
            out = out.limit(int(limit))
        return out

    def active_events(self, now: datetime | None = None) -> DataFrame:
        """Unsigned events + their entry counts (sqlite.rs:428-483): LEFT
        join + COUNT + COALESCE(0) — operator J6/A8."""
        return self._with_entry_counts(now).filter(
            F.col("attestation_signature").isNull()
        )

    def event_entries(self, event_id: str) -> DataFrame:
        return self.read("events_entries").filter(F.col("event_id") == event_id)

    def entry_choices(self, event_id: str) -> DataFrame:
        entries, choices = self._frames(
            "events_entries", "expected_observations"
        )
        ids = entries.filter(F.col("event_id") == event_id).select(
            F.col("id").alias("entry_id")
        )
        return choices.join(ids, "entry_id")

    def status_tally(self, now: datetime | None = None) -> DataFrame:
        """Dashboard status counts (routes/ui/fragments.rs:47-65) — A9."""
        return self.events_with_status(now).groupBy("status").count()
