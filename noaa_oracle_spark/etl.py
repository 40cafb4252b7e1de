"""ETL/scoring/attestation cycle — the engine-side of POST /oracle/update.

Parity target: Oracle::etl_data (crates/oracle/src/oracle.rs:355-430):
for each unsigned event, refresh weather for its stations/window, score
Running/Completed events, then pick winners for Completed events past their
signing date. Status transitions are derived from the clock, never stored
(db/mod.rs:513-533).

The weather inputs are per-station values, station → {field: value}
(from the snapshot store's forecast and observation reads, or mocks in
tests) — the cycle itself is agnostic about where they came from, exactly
like the reference's WeatherAccess trait boundary. Events, entries and
choices come from the event store's in-memory snapshot, so the cycle runs
no Spark job of its own.
"""

from __future__ import annotations

from collections.abc import Mapping
from datetime import datetime, timezone

from noaa_oracle_spark.eventstore.store import EventStore
from noaa_oracle_spark.scoring.kernel import score_entries
from noaa_oracle_spark.scoring.outcomes import get_winning_bytes, select_winners


def run_scoring_cycle(
    store: EventStore,
    forecasts: Mapping[str, Mapping],
    observations: Mapping[str, Mapping],
    now: datetime | None = None,
    only_event: str | None = None,
) -> dict[str, dict]:
    """Score every unsigned Running/Completed event; for Completed events
    past signing_date, compute winners + winner bytes (attestation secret
    itself is crypto-gated, scoring/outcomes.py).

    `only_event` restricts the cycle to one event id — the HTTP twin's
    per-event weather pairing (each event's provider values cover that
    event's own window/stations, oracle.rs:355-430 refreshes weather per
    event the same way).

    Returns {event_id: {"scores": [(entry_id, total, base)...],
                        "winners": [idx...] | None,
                        "winner_bytes": bytes | None}}.
    """
    now = now or datetime.now(timezone.utc)
    now_s = int(now.timestamp())
    results: dict[str, dict] = {}

    for ev in store.active_events(now):
        if ev["status"] not in ("running", "completed"):
            continue
        if only_event is not None and ev["id"] != only_event:
            continue
        entry_ids, choices = store.entries_and_choices(ev["id"])
        if not entry_ids:
            continue
        scored = score_entries(
            entry_ids, choices, forecasts, observations,
            tuple(ev["scoring_fields"]),
        )
        score_list = list(zip(
            scored["entry_id"].tolist(),
            scored["total_score"].tolist(),
            scored["base_score"].tolist(),
        ))
        store.update_entry_scores(score_list)
        result = {"scores": score_list, "winners": None, "winner_bytes": None}

        if ev["status"] == "completed" and ev["signing_date"] < now_s:
            entry_dicts = [
                {"entry_id": e, "score": t, "base_score": b}
                for e, t, b in score_list
            ]
            winners = select_winners(entry_dicts, ev["number_of_places_win"])
            result["winners"] = winners
            result["winner_bytes"] = get_winning_bytes(winners)
        results[ev["id"]] = result
    return results
