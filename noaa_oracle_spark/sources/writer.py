"""Snapshot parquet sink (S6/S7/S9).

The daemon writes one parquet file per hourly snapshot under the date dir
(crates/daemon/src/main.rs:96-115; observation writer
download_observations.rs:305-371, forecast writer
download_forecast.rs:1073-1183). As there, the rows are already in
process: pyarrow writes them as one file, and the scheme-agnostic
filesystem publishes it under the catalog's `{date}/{kind}_{ts}.parquet`
key. No Spark job runs.
"""

from __future__ import annotations

import os
import tempfile
from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq

from noaa_oracle_spark.sources.catalog import snapshot_path
from noaa_oracle_spark.sources.fs import fs_for


def write_snapshot(
    table: pa.Table, data_dir: str, kind: str, ts: datetime
) -> str:
    """Write a snapshot; returns the catalog path.

    The file is written to a local temp file, then handed to the
    filesystem's `put_file` — a rename on local disk, an upload on an
    object store (the S9 path, file_access.rs upload side). The Arrow
    schema is not stored: readers take the canonical schema from
    `schemas`."""
    target = snapshot_path(data_dir, kind, ts)
    fd, tmp = tempfile.mkstemp(prefix="snapshot_write_", suffix=".parquet")
    os.close(fd)
    try:
        pq.write_table(table, tmp, store_schema=False)
        fs_for(data_dir).put_file(tmp, target)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)
    return target
