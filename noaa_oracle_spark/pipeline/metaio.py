"""Zero-Spark-job I/O for tiny metadata parquet files (index manifests,
compaction baselines, drift-metric rows).

Why this exists (r12 optimization round, guide §1/§5): every index
save/append/compact/load was paying a full Spark job — scheduler, task
launch, commit protocol — to move ONE ROW of metadata through
``spark.createDataFrame(...).write.parquet`` or
``spark.read.parquet(...).collect()``.  At sf0.1 each such job costs
0.15–0.5 s of pure scheduling; at 100 TB the cost is the same (these
files are kilobytes regardless of corpus size) but it serializes the
ingest loop: a streaming sink's microbatch pays ~6 metadata jobs before
any data moves.  The control plane should not ride the data plane.

The replacement moves the bytes through the Hadoop ``FileSystem`` API —
the SAME abstraction Spark's writers use, so it works identically on
local disk, HDFS and object stores — with pyarrow doing the parquet
encode/decode in-process.  One py4j round trip per file
(``IOUtils.toByteArray`` / ``FSDataOutputStream.write``), zero Spark
jobs, zero driver loops over data (metadata only; callers keep
corpus-sized components on the Spark write path).

On-disk compatibility is a hard contract here:

- files are plain parquet inside the same directory layout Spark's
  writer produced, so ``spark.read.parquet(path)`` keeps working for
  every existing reader (tests, external engines, older builds);
- the READ path accepts directories written by either Spark or this
  module (any ``*.parquet`` data files; ``_SUCCESS`` markers ignored);
- the crash contract is unchanged: a torn write leaves an unreadable or
  absent file, never a silently wrong one — writes go to a dot-prefixed
  temp name (ignored by parquet directory listings) and are renamed
  into place.
"""

from __future__ import annotations

import io
import os
import uuid

from pyspark.sql import Row
from pyspark.sql import types as T

__all__ = [
    "read_meta_rows",
    "write_meta_rows",
    "append_meta_rows",
    "meta_dir_exists",
    "spark_read_component",
]


def _fs_and_path(spark, path: str):
    sc = spark.sparkContext
    jpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(sc._jsc.hadoopConfiguration()), jpath


def _arrow_type(dt: "T.DataType"):
    import pyarrow as pa

    if isinstance(dt, T.IntegerType):
        return pa.int32()
    if isinstance(dt, T.LongType):
        return pa.int64()
    if isinstance(dt, T.DoubleType):
        return pa.float64()
    if isinstance(dt, T.FloatType):
        return pa.float32()
    if isinstance(dt, T.StringType):
        return pa.string()
    if isinstance(dt, T.BooleanType):
        return pa.bool_()
    if isinstance(dt, T.ArrayType):
        return pa.list_(_arrow_type(dt.elementType))
    raise TypeError(f"metaio: unsupported metadata field type {dt}")


def _arrow_schema(schema: "T.StructType"):
    import pyarrow as pa

    return pa.schema(
        [pa.field(f.name, _arrow_type(f.dataType)) for f in schema.fields]
    )


def _parse_schema(schema: "str | T.StructType") -> "T.StructType":
    if isinstance(schema, T.StructType):
        return schema
    parsed = T._parse_datatype_string(schema)
    if not isinstance(parsed, T.StructType):
        raise TypeError(f"metaio: schema must be a struct, got {parsed}")
    return parsed


def _encode_parquet(schema: "T.StructType", rows: "list[tuple]") -> bytes:
    import pyarrow as pa
    import pyarrow.parquet as pq

    aschema = _arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [[] for _ in schema.fields]
    table = pa.Table.from_arrays(
        [
            pa.array(list(col), type=aschema.field(i).type)
            for i, col in enumerate(cols)
        ],
        schema=aschema,
    )
    buf = io.BytesIO()
    pq.write_table(table, buf, compression="snappy")
    return buf.getvalue()


def _write_file(spark, fs, dir_jpath, dir_path: str, data: bytes) -> None:
    """One data file into `dir_path`, temp-name + rename so a reader
    listing `*.parquet` never sees a torn file."""
    jvm = spark.sparkContext._jvm
    name = f"part-{uuid.uuid4().hex}-meta.parquet"
    tmp = jvm.org.apache.hadoop.fs.Path(f"{dir_path}/.{name}.tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()
    dest = jvm.org.apache.hadoop.fs.Path(f"{dir_path}/{name}")
    if not fs.rename(tmp, dest):
        fs.delete(tmp, False)
        raise IOError(f"metaio: rename failed writing {dir_path}")


def write_meta_rows(
    spark, path: str, schema: "str | T.StructType", rows: "list[tuple]"
) -> None:
    """Overwrite `path` (a parquet directory) with `rows` — the
    metadata twin of ``df.write.mode("overwrite").parquet(path)``,
    without a Spark job.  KB-scale rows only (manifests, baselines)."""
    st = _parse_schema(schema)
    data = _encode_parquet(st, rows)
    fs, jpath = _fs_and_path(spark, path)
    if fs.exists(jpath):
        fs.delete(jpath, True)
    fs.mkdirs(jpath)
    _write_file(spark, fs, jpath, path, data)


def append_meta_rows(
    spark, path: str, schema: "str | T.StructType", rows: "list[tuple]"
) -> None:
    """Add `rows` as a NEW data file under `path` (existing files
    untouched) — the metadata twin of ``mode("append")``."""
    st = _parse_schema(schema)
    data = _encode_parquet(st, rows)
    fs, jpath = _fs_and_path(spark, path)
    if not fs.exists(jpath):
        fs.mkdirs(jpath)
    _write_file(spark, fs, jpath, path, data)


def meta_dir_exists(spark, path: str) -> bool:
    fs, jpath = _fs_and_path(spark, path)
    return bool(fs.exists(jpath))


def _glob_escape(path: str) -> str:
    return "".join(f"\\{ch}" if ch in "*?[]{}\\" else ch for ch in path)


def _footer_buffer(spark, fs, file_jpath) -> bytes:
    """One parquet file's footer as a self-contained synthetic
    ``PAR1 + footer + tail`` buffer: seek to the 8-byte tail (footer
    length + magic), fetch the footer bytes — the thrift metadata is
    self-contained, so parsing never touches a data page.  Two bounded
    reads over the Hadoop ``FileSystem`` API (local FS / HDFS / object
    stores alike), no Spark job, no full-file fetch."""
    jvm = spark.sparkContext._jvm
    length = fs.getFileStatus(file_jpath).getLen()
    if length < 12:
        raise IOError(f"metaio: {file_jpath} too short for a parquet file")
    ioutils = jvm.org.apache.commons.io.IOUtils
    stream = fs.open(file_jpath)
    try:
        stream.seek(length - 8)
        tail8 = bytes(ioutils.toByteArray(stream, 8))
        if tail8[4:] != b"PAR1":
            raise IOError(f"metaio: {file_jpath} lacks the parquet magic")
        flen = int.from_bytes(tail8[:4], "little")
        if flen <= 0 or flen > length - 12:
            raise IOError(f"metaio: bad footer length in {file_jpath}")
        stream.seek(length - 8 - flen)
        footer = bytes(ioutils.toByteArray(stream, flen))
    finally:
        stream.close()
    return b"PAR1" + footer + tail8


def _footer_arrow_schema(spark, fs, file_jpath):
    """Arrow schema of one parquet file, from its FOOTER ONLY (see
    `_footer_buffer`)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    return pq.read_schema(
        pa.BufferReader(_footer_buffer(spark, fs, file_jpath))
    )


def footer_row_group_count(spark, path: str) -> int:
    """Row-group count of one parquet file, from its footer only — the
    ACHIEVABLE scan parallelism of that file (a row group is parquet's
    atomic read unit: Spark plans byte-range splits, but every split
    except the one containing the row group's midpoint reads zero rows
    of it).
    Used by `dedup.spread` to detect the huge-single-row-group-file
    case (guide §2.5 "one huge unsplittable file") that partition
    count alone cannot see.  No Spark job; scheme-agnostic."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    fs, jpath = _fs_and_path(spark, path)
    return pq.read_metadata(
        pa.BufferReader(_footer_buffer(spark, fs, jpath))
    ).num_row_groups


def spark_read_component(spark, path: str, partitioned_by: "str | None" = None):
    """``spark.read.parquet(path)`` for an INDEX COMPONENT whose schema
    is taken from one data file's footer instead of a schema-inference
    Spark job (r12 optimization round, guide §1.2): every
    ``spark.read.parquet`` without a schema launches a footer-reading
    job — pure scheduling for components a single writer produced with
    one uniform schema, and it serializes every index load/serve/
    maintenance op (q136–q140 pay 2 such jobs per load).  The footer is
    parsed in-process (see `_footer_arrow_schema`), so the read plans
    immediately.

    `partitioned_by` names the one optional directory-partition column
    (the IVF-PQ ``cluster_id=N`` layout); it is declared IntegerType —
    exactly what Spark's partition inference yields for the small
    integral values the index writers emit.  Only the FIRST matched
    file's partition value is checked here; the single-writer invariant
    is what guarantees the rest (every cell directory is named by the
    same int-typed column).  A value in a LATER directory that did not
    fit int32 would read back NULL under non-ANSI casting, so the one
    caller that relies on cluster_id (`load_pq_index`) additionally
    counts NULLs inside its existing validation aggregate and raises
    (r12 advice) — loud, and free of extra jobs.

    py4j discipline (measured): only the FIRST globStatus entry is ever
    touched — iterating the whole array costs two JVM round trips PER
    FILE, which on a 21k-file fragmented index turned every load into
    a ~20 s py4j storm (the exact listFiles mistake `_parquet_file_
    count` was rewritten to avoid, re-made through an iterator).

    Fallback on ANY surprise (no data files, exotic footer, non-int
    partition value, import failure) is plain ``spark.read.parquet`` —
    behavior-identical, one inference job."""
    try:
        from pyspark.sql.pandas.types import from_arrow_schema

        fs, _ = _fs_and_path(spark, path)
        jvm = spark.sparkContext._jvm
        esc = _glob_escape(path)

        def _first(pattern: str):
            arr = fs.globStatus(jvm.org.apache.hadoop.fs.Path(pattern))
            if arr is None or len(arr) == 0:
                return None
            s = arr[0]
            return s.getPath() if s.isFile() else None

        leaf = _first(f"{esc}/*.parquet")
        part_field = None
        if leaf is None and partitioned_by:
            leaf = _first(f"{esc}/{partitioned_by}=*/*.parquet")
            if leaf is not None:
                val = leaf.getParent().getName().split("=", 1)[1]
                if not (
                    val.lstrip("-").isdigit()
                    and -(2**31) <= int(val) < 2**31
                ):
                    return spark.read.parquet(path)
                part_field = T.StructField(partitioned_by, T.IntegerType())
        if leaf is None:
            return spark.read.parquet(path)
        st = from_arrow_schema(_footer_arrow_schema(spark, fs, leaf))
        if part_field is not None:
            st = T.StructType(list(st.fields) + [part_field])
        return spark.read.schema(st).parquet(path)
    except Exception:
        return spark.read.parquet(path)


def read_meta_rows(spark, path: str) -> "list[Row]":
    """Every row in the parquet directory `path` — accepts directories
    written by Spark OR by `write_meta_rows`/`append_meta_rows`.
    Returns pyspark Rows (attribute access like `.collect()` rows);
    raises FileNotFoundError when the directory does not exist.  File
    order is name-sorted for determinism; callers that need a total
    order sort by their own key."""
    import pyarrow.parquet as pq

    sc = spark.sparkContext
    jvm = sc._jvm
    fs, jpath = _fs_and_path(spark, path)
    if not fs.exists(jpath):
        raise FileNotFoundError(f"metaio: no metadata directory at {path}")
    pattern = jvm.org.apache.hadoop.fs.Path(
        f"{_glob_escape(path)}/*.parquet"
    )
    statuses = fs.globStatus(pattern)
    files = sorted(
        (s.getPath() for s in (statuses or []) if s.isFile()),
        key=lambda p: p.getName(),
    )
    rows: "list[Row]" = []
    ioutils = jvm.org.apache.commons.io.IOUtils
    row_cls: "type | None" = None
    for fpath in files:
        stream = fs.open(fpath)
        try:
            data = bytes(ioutils.toByteArray(stream))
        finally:
            stream.close()
        table = pq.read_table(io.BytesIO(data))
        if row_cls is None:
            row_cls = Row(*table.schema.names)
        for rec in table.to_pylist():
            rows.append(row_cls(*rec.values()))
    return rows
