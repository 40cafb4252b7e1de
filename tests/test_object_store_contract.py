"""Object-store contract (S5/S9): the catalog and writer drive a mocked
remote filesystem through the scheme-agnostic interface, pinning the
reference's per-date-prefix listing semantics (file_access.rs:263-329):
windowed selection = one prefix listing per date in the widened window
(never a full scan), no-window = exactly one base listing, uploads land at
the same {date}/{kind}_{ts}.parquet keys the local layout uses.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import pyarrow as pa
import pytest

from noaa_oracle_spark.sources.catalog import SnapshotCatalog, snapshot_path
from noaa_oracle_spark.sources.fs import (
    LocalFS,
    fs_for,
    register_scheme,
    unregister_scheme,
)
from noaa_oracle_spark.sources.writer import write_snapshot


class MockObjectStore:
    """In-memory S3 stand-in: flat key space, prefix listings (returned in
    key order, paginated internally like list_objects_v2), upload by
    put_file. Records every list_prefix call so tests can assert the
    listing DISCIPLINE, not just the result."""

    scheme = "mock"

    def __init__(self, page_size: int = 2):
        self.objects: dict[str, bytes] = {}
        self.list_calls: list[str] = []
        self.page_size = page_size

    def list_prefix(self, prefix: str) -> list[str]:
        self.list_calls.append(prefix)
        keys = sorted(k for k in self.objects if k.startswith(prefix))
        # emulate pagination: clients must drain continuation pages
        out: list[str] = []
        for i in range(0, len(keys), self.page_size):
            out.extend(keys[i : i + self.page_size])
        return out

    def exists(self, path: str) -> bool:
        return path in self.objects

    def read_bytes(self, path: str) -> bytes:
        return self.objects[path]

    def put_file(self, local_path: str, dest: str) -> None:
        with open(local_path, "rb") as fh:
            self.objects[dest] = fh.read()


@pytest.fixture()
def mock_store():
    store = MockObjectStore()
    register_scheme("mock", store)
    yield store
    unregister_scheme("mock")


BASE = "mock://weather-bucket/weather_data"
T = lambda *a: datetime(*a, tzinfo=timezone.utc)  # noqa: E731


def _seed(store: MockObjectStore) -> None:
    for day, name in [
        ("2026-01-14", "observations_2026-01-14T23_00_00+00_00.parquet"),
        ("2026-01-15", "observations_2026-01-15T06_00_00+00_00.parquet"),
        ("2026-01-15", "forecasts_2026-01-15T06_30_00+00_00.parquet"),
        ("2026-01-16", "observations_2026-01-16T06_00_00+00_00.parquet"),
        ("2026-01-18", "observations_2026-01-18T06_00_00+00_00.parquet"),
        ("2026-01-15", "notes.txt"),
    ]:
        store.objects[f"{BASE}/{day}/{name}"] = b"x"


def test_windowed_listing_is_per_date_prefix(mock_store):
    _seed(mock_store)
    cat = SnapshotCatalog(BASE)
    paths = cat.list_paths(
        "observations", T(2026, 1, 15), T(2026, 1, 16, 23)
    )
    # lookback widens to the 14th; the 18th is outside
    assert [p.rsplit("/", 1)[-1] for p in paths] == [
        "observations_2026-01-14T23_00_00+00_00.parquet",
        "observations_2026-01-15T06_00_00+00_00.parquet",
        "observations_2026-01-16T06_00_00+00_00.parquet",
    ]
    # the listing discipline: one prefix call per widened-window date,
    # never the full base
    assert mock_store.list_calls == [
        f"{BASE}/2026-01-14/",
        f"{BASE}/2026-01-15/",
        f"{BASE}/2026-01-16/",
    ]


def test_unwindowed_listing_is_one_base_scan(mock_store):
    _seed(mock_store)
    cat = SnapshotCatalog(BASE)
    paths = cat.all_paths("forecasts")
    assert [p.rsplit("/", 1)[-1] for p in paths] == [
        "forecasts_2026-01-15T06_30_00+00_00.parquet"
    ]
    assert mock_store.list_calls == [f"{BASE}/"]


def test_giant_window_falls_back_to_single_scan(mock_store):
    _seed(mock_store)
    cat = SnapshotCatalog(BASE)
    paths = cat.list_paths("observations", T(2024, 1, 1), T(2026, 1, 17))
    # > MAX_DATE_PREFIXES days: one full listing, still the right files
    assert len(mock_store.list_calls) == 1
    assert [p.rsplit("/", 1)[-1] for p in paths] == [
        "observations_2026-01-14T23_00_00+00_00.parquet",
        "observations_2026-01-15T06_00_00+00_00.parquet",
        "observations_2026-01-16T06_00_00+00_00.parquet",
    ]


def test_mock_parity_with_local_layout(mock_store, tmp_path):
    """The same logical tree answers identically through both backends."""
    _seed(mock_store)
    local_base = str(tmp_path / "weather_data")
    for key, data in mock_store.objects.items():
        rel = key[len(BASE) + 1 :]
        full = os.path.join(local_base, rel)
        os.makedirs(os.path.dirname(full), exist_ok=True)
        with open(full, "wb") as fh:
            fh.write(data)
    for kind in ("observations", "forecasts"):
        a = [
            p.rsplit("/", 1)[-1]
            for p in SnapshotCatalog(BASE).list_paths(
                kind, T(2026, 1, 15), T(2026, 1, 18, 23)
            )
        ]
        b = [
            p.rsplit("/", 1)[-1]
            for p in SnapshotCatalog(local_base).list_paths(
                kind, T(2026, 1, 15), T(2026, 1, 18, 23)
            )
        ]
        assert a == b


def test_write_snapshot_uploads_through_fs(mock_store):
    table = pa.table({"id": [1, 2], "station_id": ["KATL", "KSEA"]})
    ts = T(2026, 1, 15, 6)
    target = write_snapshot(table, BASE, "observations", ts)
    assert target == snapshot_path(BASE, "observations", ts)
    assert mock_store.objects[target][:4] == b"PAR1"  # real parquet upload
    # and the catalog immediately lists what the writer put there
    got = SnapshotCatalog(BASE).list_paths(
        "observations", T(2026, 1, 15), T(2026, 1, 15, 23)
    )
    assert got == [target]


def test_unregistered_scheme_rejected():
    with pytest.raises(ValueError, match="register_scheme"):
        fs_for("s3a://bucket/prefix")
    assert isinstance(fs_for("/plain/local/path"), LocalFS)


def test_file_scheme_urls_normalize_to_local_paths(tmp_path):
    """`file://` URLs hit LocalFS as OS paths — raw URLs passed through
    to os.path/open previously listed empty and wrote to bogus relative
    paths."""
    d = tmp_path / "date=2026-01-15"
    d.mkdir()
    (d / "snap.parquet").write_bytes(b"PAR1data")
    fs = fs_for(f"file://{tmp_path}")
    assert isinstance(fs, LocalFS)
    listed = fs.list_prefix(f"file://{d}")
    assert listed == [str(d / "snap.parquet")]
    assert fs.exists(f"file://{d}/snap.parquet")
    assert fs.read_bytes(f"file://{d}/snap.parquet") == b"PAR1data"
    src = tmp_path / "up.bin"
    src.write_bytes(b"x")
    fs.put_file(str(src), f"file://{tmp_path}/dest/up.bin")
    assert (tmp_path / "dest" / "up.bin").read_bytes() == b"x"


def test_file_url_remote_host_rejected():
    """file://server/share names a REMOTE host; reading local /share
    instead would silently answer about the wrong filesystem (ADVICE r4).
    localhost stays accepted; a host-only URL (no path) is rejected."""
    import pytest

    from noaa_oracle_spark.sources.fs import strip_file_scheme

    with pytest.raises(ValueError, match="non-local host"):
        strip_file_scheme("file://server/share")
    with pytest.raises(ValueError, match="non-local host"):
        strip_file_scheme("file://name")
    with pytest.raises(ValueError, match="no path"):
        strip_file_scheme("file://localhost")
    assert strip_file_scheme("file://localhost/p") == "/p"
    assert strip_file_scheme("file:///p") == "/p"
    assert strip_file_scheme("/plain/path") == "/plain/path"
