"""Snapshot file catalog: date-directory layout + time-window file pruning.

Reference layout: `{data_dir}/{YYYY-MM-DD}/{kind}_{RFC3339}.parquet`
(crates/oracle/src/file_access.rs:96-129; write side
crates/daemon/src/main.rs:96-115). File selection walks date directories,
parses the RFC3339 timestamp embedded in each filename, and keeps files of
the requested kind whose snapshot time falls in [start, end]
(file_access.rs:144-233). A snapshot is one such file, the only form the
daemon writes. Weather queries widen the window by one day of
lookback so late-arriving snapshots that still cover the period are included
(weather_data.rs:95-100, :431-436, :581-584).

Scale notes (100 TB): the directory walk is driver-side metadata work, same
as the reference — it prunes *before* any scan, so Spark never even lists
the excluded dates. On object stores the per-date prefixes keep listings
O(days in window), mirroring file_access.rs:263-329's per-date S3 prefix
listing.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass
from datetime import date, datetime, timedelta, timezone

_FILENAME_RE = re.compile(
    r"^(?P<kind>observations|forecasts)_(?P<ts>.+)\.parquet$"
)


def parse_rfc3339(s: str) -> datetime:
    """Parse an RFC3339 timestamp to an aware UTC datetime.

    Mirrors file_access.rs:64-71 (filename timestamp parse). Accepts 'Z' and
    numeric offsets; filesystem-safe variants using '_' for ':' in the time
    part are normalized first (the reference uses RFC3339 verbatim; some
    filesystems dislike ':', so we accept both on read).
    """
    s = s.strip()
    if "_" in s:
        # 2024-01-01T03_00_00Z → 2024-01-01T03:00:00Z
        date_part, _, time_part = s.partition("T")
        s = date_part + "T" + time_part.replace("_", ":")
    if s.endswith(("Z", "z")):
        s = s[:-1] + "+00:00"
    return datetime.fromisoformat(s).astimezone(timezone.utc)


def format_ts_for_filename(ts: datetime) -> str:
    """RFC3339 with ':' replaced by '_' (filesystem-safe, sorts identically)."""
    return ts.astimezone(timezone.utc).strftime("%Y-%m-%dT%H_%M_%S+00_00")


def snapshot_path(data_dir: str, kind: str, ts: datetime) -> str:
    """Path for a new snapshot file (write side, daemon/src/main.rs:96-115)."""
    day = ts.astimezone(timezone.utc).date().isoformat()
    return os.path.join(
        data_dir, day, f"{kind}_{format_ts_for_filename(ts)}.parquet"
    )


@dataclass(frozen=True)
class SnapshotFile:
    path: str
    kind: str  # "observations" | "forecasts"
    snapshot_ts: datetime


def parse_snapshot_name(name: str, kind: str) -> SnapshotFile | None:
    """Parse a catalog basename of `kind`; None if it isn't one."""
    m = _FILENAME_RE.match(name)
    if m is None or m.group("kind") != kind:
        return None
    try:
        return SnapshotFile("", kind, parse_rfc3339(m.group("ts")))
    except ValueError:
        return None


#: Per-date prefix listings are issued only for windows up to this many
#: days (file_access.rs:276-280's 365-prefix safety bound). Beyond it we
#: fall back to ONE full-base listing filtered by timestamp — same result
#: set, one paginated scan, where the reference silently truncates at the
#: cap; correctness wins over that quirk.
MAX_DATE_PREFIXES = 365


class SnapshotCatalog:
    """File catalog over a `{data_dir}/{date}/{kind}_{ts}.parquet` tree.

    Backend-blind: all path enumeration goes through the scheme-agnostic
    filesystem (sources/fs.py), so the same pruning runs over local date
    directories and object-store date prefixes (the S5/S9 contract,
    file_access.rs:263-329). Windowed selection issues one prefix listing
    per date in the widened window — listing cost is O(days), never a
    full-base scan; a nonexistent date prefix lists empty, exactly like a
    prefix with no objects.

    A `file://` data dir is kept as the plain path LocalFS lists its keys
    under, so every key starts with the prefix it was listed by."""

    def __init__(self, data_dir: str, fs=None):
        from noaa_oracle_spark.sources.fs import fs_for, strip_file_scheme

        self.data_dir = strip_file_scheme(data_dir)
        self.fs = fs if fs is not None else fs_for(data_dir)

    def _date_prefix(self, d: date) -> str:
        return os.path.join(self.data_dir, d.isoformat()) + "/"

    def _window_dates(self, start: date, end: date) -> list[date]:
        out = []
        cur = start
        while cur <= end:
            out.append(cur)
            cur = cur + timedelta(days=1)
        return out

    def list_files(
        self,
        kind: str,
        start: datetime,
        end: datetime,
        lookback_days: int = 1,
    ) -> list[SnapshotFile]:
        """Select snapshot files of `kind` whose snapshot timestamp falls in
        [start - lookback, end].

        The 1-day lookback widening (weather_data.rs:95-100) exists because a
        snapshot written shortly before `start` still contains rows covering
        the requested period; row-level time predicates then re-narrow.
        """
        start = start.astimezone(timezone.utc)
        end = end.astimezone(timezone.utc)
        widened = start - timedelta(days=lookback_days)
        dates = self._window_dates(widened.date(), end.date())
        if len(dates) <= MAX_DATE_PREFIXES:
            files = []
            for d in dates:
                pfx = self._date_prefix(d)
                files += self._collect(self.fs.list_prefix(pfx), pfx, kind)
        else:
            base = self.data_dir.rstrip("/") + "/"
            files = self._collect(
                self.fs.list_prefix(base), base, kind, dated=True
            )
        return sorted(
            (f for f in files if widened <= f.snapshot_ts <= end),
            key=lambda f: f.path,
        )

    @staticmethod
    def _collect(
        keys: list[str], prefix: str, kind: str, dated: bool = False
    ) -> list[SnapshotFile]:
        """The snapshot files of `kind` among flat object keys: a
        `{name}` key right under a date prefix, or a `{date}/{name}` key
        under the base when `dated`. Deeper keys are not snapshots."""
        out = []
        for key in keys:
            parts = key[len(prefix):].split("/")
            if len(parts) != (2 if dated else 1):
                continue
            sf = parse_snapshot_name(parts[-1], kind)
            if sf is not None:
                out.append(SnapshotFile(key, kind, sf.snapshot_ts))
        return out

    def list_paths(self, kind: str, start: datetime, end: datetime,
                   lookback_days: int = 1) -> list[str]:
        return [f.path for f in self.list_files(kind, start, end, lookback_days)]

    def all_paths(self, kind: str) -> list[str]:
        """Every file of `kind` (the stations query scans all observation
        snapshots, weather_data.rs:713-733) — the no-window path is the one
        full-base listing, same as grab_file_names' `weather_data/` prefix."""
        base = self.data_dir.rstrip("/") + "/"
        files = self._collect(self.fs.list_prefix(base), base, kind, dated=True)
        return sorted(f.path for f in files)
