"""Streaming smoke tests: drive a file-source stream to completion with
the memory sink (processAllAvailable) and check results, including state
carried across two microbatches.
"""

from __future__ import annotations


def test_streaming_session_window(spark, tmp_path):
    """q37's claim, proven: the SAME session_window aggregation runs under
    readStream with watermarked state — batch/stream parity for the
    sessionization operator."""
    import pandas as pd
    from pyspark.sql import functions as F

    src = tmp_path / "events_stream"
    src.mkdir()
    pdf = pd.DataFrame(
        {
            "user_id": [1, 1, 1, 2],
            "ts": pd.to_datetime(
                [
                    "2026-01-01 00:00:00",
                    "2026-01-01 00:10:00",  # same session (gap 10m < 30m)
                    "2026-01-01 02:00:00",  # new session
                    "2026-01-01 00:05:00",
                ]
            ),
        }
    )
    # pandas defaults to TIMESTAMP(NANOS), which the session reads as long
    pdf.to_parquet(
        src / "batch0.parquet",
        coerce_timestamps="us",
        allow_truncated_timestamps=True,
    )
    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .parquet(str(src))
        .withWatermark("ts", "1 hour")
    )
    agg = (
        stream.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("start"),
            "n_events",
        )
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("session_stream")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = {
            (r.user_id, str(r.start), r.n_events)
            for r in spark.sql("SELECT * FROM session_stream").collect()
        }
    finally:
        q.stop()
    assert rows == {
        (1, "2026-01-01 00:00:00", 2),
        (1, "2026-01-01 02:00:00", 1),
        (2, "2026-01-01 00:05:00", 1),
    }


def test_streaming_exact_dedup(spark, tmp_path):
    """The dedup ladder's first rung under Structured Streaming: duplicate
    texts arriving across micro-batches are suppressed by
    dropDuplicatesWithinWatermark on the content hash — state is bounded by
    the watermark horizon instead of growing forever."""
    import pandas as pd
    from pyspark.sql import functions as F

    src = tmp_path / "docs_stream"
    src.mkdir()

    def write_batch(name, rows):
        pd.DataFrame(rows).to_parquet(
            src / name, coerce_timestamps="us", allow_truncated_timestamps=True
        )

    t = pd.to_datetime("2026-01-01 00:00:00")
    write_batch("b0.parquet", {
        "doc_id": [1, 2],
        "text": ["alpha", "beta"],
        "ts": [t, t],
    })
    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withWatermark("ts", "1 hour")
        .withColumn("text_hash", F.md5("text"))
        .dropDuplicatesWithinWatermark(["text_hash"])
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_stream")
        .start()
    )
    try:
        q.processAllAvailable()
        # second batch: one duplicate text ("alpha"), one new
        write_batch("b1.parquet", {
            "doc_id": [3, 4],
            "text": ["alpha", "gamma"],
            "ts": [t, t],
        })
        q.processAllAvailable()
        rows = spark.sql("SELECT text FROM dedup_stream").collect()
    finally:
        q.stop()
    texts = sorted(r.text for r in rows)
    assert texts == ["alpha", "beta", "gamma"]
