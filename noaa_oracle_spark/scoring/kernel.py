"""Contest scoring kernel: entries graded in plain Python on the driver.

Parity target: crates/oracle/src/oracle.rs:484-761 (update_entry_scores).
Per entry × station × enabled field, the player's Over/Par/Under choice is
graded against forecast-vs-observed: Par = 20 points, Over/Under = 10
(constants :505-507). Field-specific rules:

  temp_high/temp_low  equality on observation rounded to i64 (:534-578)
  wind_speed          NULL forecast ⇒ implicit 0 ("calm") (:580-624)
  wind_direction      Par iff circular difference ≤ 22° ; Over/Under compare
                      raw degrees with NULL→0 defaults (:627-654)
  rain_amt            Par tolerance ±0.1 in, NULL→0.0 (:656-681)
  snow_amt            Par tolerance ±0.5 in, NULL→0.0 (:683-708)
  humidity            vs forecast humidity_max, Par ±5, NULL→0 (:710-736)

Tiebreak total (oracle.rs:738-761): total = max(10000, base·10000) −
(uuidv7_millis mod 10000) — earlier entries (smaller ms) rank higher on
equal base scores.

Shape: an event holds at most 25 entries over its few stations, so the
grading is a loop over the choices against two per-station dicts, as the
reference's is; the weather behind those dicts is the only Spark work.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from decimal import ROUND_HALF_UP, Decimal

import pandas as pd

OVER_OR_UNDER_POINTS = 10
PAR_POINTS = 20
DEFAULT_SCORING_FIELDS = ("temp_high", "temp_low", "wind_speed")


def uuidv7_millis(entry_id: str) -> int:
    """UUIDv7 creation time in ms: the first 48 bits of the UUID — hex chars
    1-12 with dashes removed (oracle.rs:738-750 reads the uuid timestamp)."""
    return int(entry_id.replace("-", "")[:12], 16)


def _round_half_up(v: float) -> int:
    """f64::round as i64: halves away from zero."""
    return int(Decimal(repr(v)).to_integral_value(ROUND_HALF_UP))


#: field → (forecast field, Par tolerance) for the fields graded as
#: amounts with NULL→0 (oracle.rs:656-736)
_TOLERANCE_FIELDS = {
    "rain_amt": ("rain_amt", 0.1),
    "snow_amt": ("snow_amt", 0.5),
    "humidity": ("humidity_max", 5),
}


def _or(v, default):
    return default if v is None else v


def _field_outcomes(field: str, fc: Mapping, ob: Mapping):
    """(over, par, under) for one field of one station, or None when the
    field cannot be graded (a NULL temperature on either side)."""
    if field in ("temp_high", "temp_low"):
        f, o = fc.get(field), ob.get(field)
        if f is None or o is None:
            return None
        o = _round_half_up(o)
        return f < o, f == o, f > o
    if field == "wind_speed":
        f, o = _or(fc.get(field), 0), _or(ob.get(field), 0)
        return f < o, f == o, f > o
    if field == "wind_direction":
        f, o = _or(fc.get(field), 0), _or(ob.get(field), 0)
        raw = abs(f - o) % 360
        return o > f, min(raw, 360 - raw) <= 22, o < f
    f_field, tolerance = _TOLERANCE_FIELDS[field]
    f, o = _or(fc.get(f_field), 0), _or(ob.get(field), 0)
    return o > f, abs(o - f) <= tolerance, o < f


def _points(choice: str | None, outcomes) -> int:
    if choice is None or outcomes is None:
        return 0
    over, par, under = outcomes
    if choice == "over" and over:
        return OVER_OR_UNDER_POINTS
    if choice == "par" and par:
        return PAR_POINTS
    if choice == "under" and under:
        return OVER_OR_UNDER_POINTS
    return 0


def score_entries(
    entry_ids: Sequence[str],
    choices: Sequence[Mapping],
    forecasts: Mapping[str, Mapping],
    observations: Mapping[str, Mapping],
    scoring_fields: Sequence[str] = DEFAULT_SCORING_FIELDS,
) -> pd.DataFrame:
    """Compute (entry_id, base_score, total_score), one row per entry.

    entry_ids:    UUIDv7 strings
    choices:      {entry_id, station, temp_low, temp_high, wind_speed,
                  wind_direction, rain_amt, snow_amt, humidity}
                  (each choice ∈ {'over','par','under'} or None)
    forecasts:    station → {temp_low, temp_high, wind_speed,
                  wind_direction, rain_amt, snow_amt, humidity_max}
    observations: station → {temp_low, temp_high, wind_speed,
                  wind_direction, rain_amt, snow_amt, humidity}
    A missing key or a None is a NULL.
    """
    base = dict.fromkeys(entry_ids, 0)
    for c in choices:
        fc, ob = forecasts.get(c["station"]), observations.get(c["station"])
        # a station missing its forecast or its observation grades nothing
        # (the reference `continue`s when either is missing, :519-531)
        if c["entry_id"] not in base or fc is None or ob is None:
            continue
        base[c["entry_id"]] += sum(
            _points(c.get(field), _field_outcomes(field, fc, ob))
            for field in scoring_fields
        )
    return pd.DataFrame(
        {
            "entry_id": list(base),
            "base_score": list(base.values()),
            "total_score": [
                max(10000, b * 10000) - uuidv7_millis(e) % 10000
                for e, b in base.items()
            ],
        }
    )
