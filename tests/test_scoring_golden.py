"""Golden scoring test: reproduces the exact (score, base_score) numbers of
the reference's end-to-end ETL test
(crates/oracle/tests/api/etl_workflow.rs:62-392; expected scores :336-362 =
(399900, 40), (399700, 40), (299800, 30), (99600, 10)) from the same mock
forecasts (:394-465), observations (:467-526), and entry choices (:108-251),
with UUIDv7 entry ids at millisecond offsets .10/.20/.30/.40.
"""

from __future__ import annotations

import uuid
from datetime import datetime, timezone

import pytest

from noaa_oracle_spark.scoring import (
    generate_outcome_messages,
    generate_ranking_permutations,
    get_winning_bytes,
    score_entries,
    select_winners,
)


def uuid_v7_at(iso: str) -> str:
    """Deterministic UUIDv7 with the given creation instant (random bits
    zeroed — only the 48-bit ms timestamp matters for scoring)."""
    dt = datetime.fromisoformat(iso.replace("Z", "+00:00"))
    ms = int(dt.timestamp() * 1000)
    b = ms.to_bytes(6, "big") + bytes([0x70, 0x00, 0x80] + [0] * 7)
    return str(uuid.UUID(bytes=b))


E1 = uuid_v7_at("2024-08-11T00:00:00.100Z")
E2 = uuid_v7_at("2024-08-11T00:00:00.200Z")
E3 = uuid_v7_at("2024-08-11T00:00:00.300Z")
E4 = uuid_v7_at("2024-08-11T00:00:00.400Z")


def _choice_row(entry_id, station, temp_low=None, temp_high=None,
                wind_speed=None, wind_direction=None, rain_amt=None,
                snow_amt=None, humidity=None):
    return (entry_id, station, temp_low, temp_high, wind_speed,
            wind_direction, rain_amt, snow_amt, humidity)


CHOICES = [
    # entry 1 (etl_workflow.rs:108-141)
    _choice_row(E1, "PFNO", temp_low="under", wind_speed="over"),
    _choice_row(E1, "KSAW", wind_speed="over"),
    _choice_row(E1, "KWMC", temp_low="par", temp_high="under", wind_speed="par"),
    # entry 2 (:143-176)
    _choice_row(E2, "PFNO", temp_low="par", wind_speed="par"),
    _choice_row(E2, "KSAW", temp_low="par", wind_speed="over"),
    _choice_row(E2, "KWMC", temp_low="par", temp_high="under"),
    # entry 3 (:178-211)
    _choice_row(E3, "PFNO", temp_low="par", wind_speed="under"),
    _choice_row(E3, "KSAW", temp_low="over", wind_speed="over"),
    _choice_row(E3, "KWMC", temp_low="par", wind_speed="under"),
    # entry 4 (:213-246)
    _choice_row(E4, "PFNO", temp_low="over", wind_speed="par"),
    _choice_row(E4, "KSAW", temp_high="under", wind_speed="over"),
    _choice_row(E4, "KWMC", temp_low="par", wind_speed="under"),
]

# mock_forecast_data (:394-465): station, temp_low, temp_high, wind_speed
FORECASTS = [
    ("PFNO", 9, 35, 8),
    ("KSAW", 17, 25, 3),
    ("PAPG", 14, 17, 6),
    ("KWMC", 31, 33, 11),
]

# mock_observation_data (:467-526): station, temp_low, temp_high, wind_speed
OBSERVATIONS = [
    ("PFNO", 9.4, 35.0, 11),
    ("KSAW", 22.0, 25.0, 10),
    ("PAPG", 15.0, 16.0, 6),
    ("KWMC", 32.8, 34.4, 11),
]

EXPECTED = {E1: (399900, 40), E2: (299800, 30), E3: (399700, 40), E4: (99600, 10)}


CHOICE_COLUMNS = ("entry_id", "station", "temp_low", "temp_high", "wind_speed",
                  "wind_direction", "rain_amt", "snow_amt", "humidity")


def weather_values() -> tuple[dict, dict]:
    """The mock forecasts and observations as per-station values; the
    fields they leave out are NULL."""
    forecasts = {
        s: {"temp_low": tl, "temp_high": th, "wind_speed": w}
        for s, tl, th, w in FORECASTS
    }
    observations = {
        s: {"temp_low": tl, "temp_high": th, "wind_speed": w}
        for s, tl, th, w in OBSERVATIONS
    }
    return forecasts, observations


@pytest.fixture(scope="module")
def scored():
    choices = [dict(zip(CHOICE_COLUMNS, row)) for row in CHOICES]
    out = score_entries([E1, E2, E3, E4], choices, *weather_values())
    return {
        r.entry_id: (r.total_score, r.base_score)
        for r in out.itertuples(index=False)
    }


def test_golden_scores(scored):
    assert scored == EXPECTED


@pytest.mark.parametrize(
    "field, forecast, observed, points",
    [
        # observed temperatures round half away from zero (f64::round)
        ("temp_high", {"temp_high": 60}, {"temp_high": 60.5}, (10, 0, 0)),
        ("temp_low", {"temp_low": -5}, {"temp_low": -4.5}, (0, 20, 0)),
        ("temp_low", {}, {"temp_low": 3.0}, (0, 0, 0)),
        ("wind_speed", {}, {"wind_speed": 0}, (0, 20, 0)),
        # 350° vs 10°: 20° apart around the circle, raw degrees say under
        ("wind_direction", {"wind_direction": 350}, {"wind_direction": 10},
         (0, 20, 10)),
        ("rain_amt", {}, {"rain_amt": 0.1}, (10, 20, 0)),
        ("snow_amt", {"snow_amt": 1.0}, {"snow_amt": 0.4}, (0, 0, 10)),
        ("humidity", {"humidity_max": 70}, {"humidity": 76}, (10, 0, 0)),
    ],
)
def test_field_rules(field, forecast, observed, points):
    """Each field's Over/Par/Under rule (oracle.rs:534-736): the base score
    of an entry choosing over, par and under."""
    ids = [uuid_v7_at(f"2024-08-11T00:00:00.{ms}Z") for ms in (101, 102, 103)]
    choices = [{"entry_id": e, "station": "KXYZ", field: choice}
               for e, choice in zip(ids, ("over", "par", "under"))]
    out = score_entries(ids, choices, {"KXYZ": forecast}, {"KXYZ": observed},
                        (field,))
    assert tuple(out["base_score"]) == points


def test_winner_selection(scored):
    entries = [
        {"entry_id": e, "score": scored[e][0], "base_score": scored[e][1]}
        for e in (E1, E2, E3, E4)
    ]
    winners = select_winners(entries, number_of_places_win=3)
    # id order == creation order here, so indices are positional:
    # top-3 by score = E1 (399900), E3 (399700), E2 (299800) → [0, 2, 1]
    assert winners == [0, 2, 1]
    assert get_winning_bytes(winners) == (
        (0).to_bytes(8, "big") + (2).to_bytes(8, "big") + (1).to_bytes(8, "big")
    )


def test_refund_all_when_zero_scores():
    entries = [
        {"entry_id": E1, "score": 9900, "base_score": 0},
        {"entry_id": E2, "score": 9800, "base_score": None},
    ]
    assert select_winners(entries, 1) == [0, 1]


def test_outcome_counts():
    """Exact expected counts from outcome_generator.rs:33-76."""
    assert len(generate_ranking_permutations(5, 3)) == 61
    assert len(generate_ranking_permutations(20, 3)) == 6841
    assert len(generate_ranking_permutations(25, 3)) == 13801
    msgs = generate_outcome_messages(generate_ranking_permutations(3, 2))
    assert len(msgs) == 7
    assert msgs[0] == (0).to_bytes(8, "big") + (1).to_bytes(8, "big")
    # refund-all is the last outcome and contains every index
    assert msgs[-1] == b"".join(i.to_bytes(8, "big") for i in range(3))
