"""Streaming corpus dedup: first arrival of a text hash wins across
microbatches; the watermark variant bounds state and still dedups inside
the horizon."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from noaa_oracle_spark.streaming import stream_documents, streaming_exact_dedup

T0 = dt.datetime(2026, 1, 15, 12, 0, 0)


def _write_batch(spark, path, name, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table(
        {
            "doc_id": pa.array([i for i, _, _ in rows], pa.int64()),
            "text": [t for _, t, _ in rows],
            "lang": ["en"] * len(rows),
            "source": ["src"] * len(rows),
            "n_chars": pa.array([len(t) for _, t, _ in rows], pa.int64()),
            "ingest_ts": pa.array(
                [T0 + dt.timedelta(minutes=m) for _, _, m in rows],
                pa.timestamp("us"),
            ),
        }
    )
    pq.write_table(tbl, os.path.join(path, f"{name}.parquet"))


@pytest.mark.parametrize("use_watermark", [False, True])
def test_cross_microbatch_dedup(spark, tmp_path, use_watermark):
    src = str(tmp_path / "src")
    os.makedirs(src)
    _write_batch(
        spark, src, "b1", [(1, "alpha text", 0), (2, "beta text", 1)]
    )
    docs = stream_documents(spark, src)
    assert docs.isStreaming
    dedup = streaming_exact_dedup(
        docs, ts_col="ingest_ts" if use_watermark else None
    )
    qname = f"corpus_dedup_{use_watermark}"
    q = (
        dedup.writeStream.outputMode("append")
        .format("memory")
        .queryName(qname)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: doc 3 repeats doc 1's text, doc 4 is new
        _write_batch(
            spark, src, "b2", [(3, "alpha text", 5), (4, "gamma text", 6)]
        )
        q.processAllAvailable()
        rows = spark.sql(f"SELECT doc_id, text FROM {qname}").collect()
    finally:
        q.stop()
    assert sorted(r.doc_id for r in rows) == [1, 2, 4]
    assert all(len(r.text) > 0 for r in rows)


LONG_A = (
    "the quick brown fox jumps over the lazy dog while seventeen green "
    "parrots recite surprisingly accurate weather forecasts every morning"
)
# near-dup of LONG_A: one word changed mid-sentence
LONG_A_NEAR = LONG_A.replace("green parrots", "green penguins")
LONG_B = (
    "completely different content about distributed query engines and "
    "shuffle partitioning strategies for large analytical workloads"
)


def test_streaming_minhash_near_dedup(spark, tmp_path):
    """Near-dup (not just exact-dup) suppression across microbatches,
    consistent with the batch LSH ladder: a doc is flagged iff
    minhash_lsh_candidates over the union corpus pairs it with an
    earlier-arriving doc."""
    from noaa_oracle_spark.pipeline.dedup import minhash_lsh_candidates
    from noaa_oracle_spark.streaming import (
        band_verdicts,
        streaming_minhash_dedup,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    b1 = [(1, LONG_A, 0), (2, LONG_B, 1)]
    b2 = [(3, LONG_A_NEAR, 5), (4, LONG_B, 6), (5, "an unrelated short "
          "paragraph mentioning entirely novel things like marzipan "
          "telescopes and undersea chess tournaments", 7)]
    _write_batch(spark, src, "b1", b1)

    docs = stream_documents(spark, src)
    ownership = streaming_minhash_dedup(docs, ts_col="ingest_ts")
    q = (
        ownership.writeStream.outputMode("append")
        .format("memory")
        .queryName("near_dedup")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        _write_batch(spark, src, "b2", b2)
        q.processAllAvailable()
        own_rows = spark.sql("SELECT * FROM near_dedup")
        verdicts = {
            r.doc_id: (r.is_dup, r.first_owner)
            for r in band_verdicts(own_rows).collect()
        }
    finally:
        q.stop()

    # the modified copy is a NEAR dup (shares no exact text with doc 1)
    assert verdicts[3] == (True, 1)
    # the exact copy is caught too
    assert verdicts[4] == (True, 2)
    # originals and the unrelated doc pass
    assert verdicts[1][0] is False
    assert verdicts[2][0] is False
    assert verdicts[5][0] is False

    # consistency with the batch ladder: flagged iff LSH pairs the doc
    # with an earlier (lower-ts == lower-id here) doc
    static = spark.createDataFrame(
        [(i, t) for i, t, _ in b1 + b2], "doc_id long, text string"
    )
    cand = minhash_lsh_candidates(static).collect()
    earlier = {}
    for r in cand:
        a, b = sorted((r.doc_a, r.doc_b))
        earlier.setdefault(b, set()).add(a)
    for did, (is_dup, _) in verdicts.items():
        assert is_dup == (did in earlier), did
    # and the near-dup really is a batch candidate (guards the fixture)
    assert 1 in earlier.get(3, set())


def test_streaming_minhash_state_evicts_past_watermark(spark, tmp_path):
    """A band idle past the TTL horizon evicts: the same text arriving
    hours later is treated as NEW (the watermark contract — a crawl
    re-fetching a page weeks later is a fresh observation)."""
    from noaa_oracle_spark.streaming import (
        band_verdicts,
        streaming_minhash_dedup,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    _write_batch(spark, src, "b1", [(1, LONG_A, 0)])
    docs = stream_documents(spark, src)
    ownership = streaming_minhash_dedup(
        docs, ts_col="ingest_ts", watermark="0 seconds",
        state_ttl_seconds=60,
    )
    q = (
        ownership.writeStream.outputMode("append")
        .format("memory")
        .queryName("near_dedup_ttl")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # advance event time far past the TTL with unrelated traffic
        _write_batch(spark, src, "b2", [(2, LONG_B, 120)])
        q.processAllAvailable()
        # the old band states (last seen t0, TTL 60s) are now behind the
        # watermark (t0+120min) — this batch fires their timeouts
        _write_batch(spark, src, "b3", [(3, LONG_A, 125)])
        q.processAllAvailable()
        verdicts = {
            r.doc_id: r.is_dup
            for r in band_verdicts(
                spark.sql("SELECT * FROM near_dedup_ttl")
            ).collect()
        }
    finally:
        q.stop()
    assert verdicts[1] is False
    assert verdicts[3] is False  # state evicted — doc 3 owns its bands anew


def test_streaming_quality_gated_dedup_pipeline(spark, tmp_path):
    """Pipeline composition in ONE streaming query: map-side quality gate
    -> watermarked exact dedup -> sink. Low-quality docs never reach the
    dedup state; duplicates of surviving docs are suppressed across
    microbatches."""
    from noaa_oracle_spark.pipeline.text import quality_filter
    from noaa_oracle_spark.streaming import (
        stream_documents,
        streaming_exact_dedup,
    )

    good = ("the quick brown fox jumps over the lazy dog and the crew "
            "of seventeen sailors charted a course to the northern "
            "islands before the first snow of the season arrived")
    junk = "1234 5678 9999 0000 1111"  # short + all digits
    src = str(tmp_path / "src")
    os.makedirs(src)
    _write_batch(spark, src, "b1", [(1, good, 0), (2, junk, 1)])
    docs = stream_documents(spark, src)
    gated = quality_filter(docs, min_score=60)
    dedup = streaming_exact_dedup(gated, ts_col="ingest_ts")
    q = (
        dedup.writeStream.outputMode("append")
        .format("memory")
        .queryName("gated_dedup")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        _write_batch(
            spark, src, "b2",
            [(3, good, 5), (4, junk, 6), (5, good + " indeed", 7)],
        )
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT doc_id, quality_score FROM gated_dedup"
        ).collect()
    finally:
        q.stop()
    got = {r.doc_id: r.quality_score for r in rows}
    # 2/4 fail the gate; 3 is an exact dup of the surviving 1; 5 differs
    assert set(got) == {1, 5}
    assert all(s >= 60 for s in got.values())


def test_streaming_bm25_index_equals_batch_build(spark, tmp_path):
    """Two microbatches of arriving documents maintain a persisted BM25
    index (save on first, file-level append after) that serves exactly
    the index built over the union in one batch pass — the retrieval
    tier's streaming-ingest twin."""
    from noaa_oracle_spark.pipeline.text import (
        bm25_query,
        load_bm25_index,
        save_bm25_index,
    )
    from noaa_oracle_spark.streaming import (
        stream_documents,
        streaming_bm25_index,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    _write_batch(
        spark, src, "b1",
        [(1, "apple banana apple", 0), (2, "banana cherry", 1)],
    )
    idx_path = str(tmp_path / "sidx")
    q = streaming_bm25_index(
        stream_documents(spark, src), idx_path, str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
        _write_batch(
            spark, src, "b2",
            [(3, "apple date egg", 5), (4, "cherry cherry apple", 6)],
        )
        q.processAllAvailable()
    finally:
        q.stop()

    full_docs = spark.createDataFrame(
        [
            (1, "apple banana apple"), (2, "banana cherry"),
            (3, "apple date egg"), (4, "cherry cherry apple"),
        ],
        "doc_id long, text string",
    )
    full_path = str(tmp_path / "fidx")
    save_bm25_index(full_docs, full_path)
    g = load_bm25_index(spark, idx_path)
    f = load_bm25_index(spark, full_path)
    assert (
        g["manifest"].n_docs, g["manifest"].avgdl, g["manifest"].n_postings
    ) == (
        f["manifest"].n_docs, f["manifest"].avgdl, f["manifest"].n_postings
    )
    for terms in (["apple"], ["cherry", "date"]):
        got = [tuple(r) for r in bm25_query(g, terms, k=10).collect()]
        want = [tuple(r) for r in bm25_query(f, terms, k=10).collect()]
        assert got == want, terms


def test_bm25_index_sink_replay_semantics(spark, tmp_path):
    """At-least-once discipline, unit-tested on the bare sink closure:
    a fully-applied batch replayed after a crash is skipped (scores
    unchanged), an empty batch no-ops, and a PARTIALLY-present batch
    raises instead of double-counting the survivors."""
    import pytest as _pytest

    from noaa_oracle_spark.pipeline.text import (
        append_bm25_index,
        bm25_query,
        load_bm25_index,
    )
    from noaa_oracle_spark.streaming import bm25_index_sink

    path = str(tmp_path / "ridx")
    sink = bm25_index_sink(path)
    b1 = spark.createDataFrame(
        [(1, "apple banana"), (2, "banana cherry")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(3, "apple date"), (4, "")], "doc_id long, text string"
    )
    sink(b1, 0)
    sink(b2, 1)
    before = [
        tuple(r)
        for r in bm25_query(
            load_bm25_index(spark, path), ["apple"], k=10
        ).collect()
    ]

    sink(b2, 1)  # full replay: skipped
    sink(b2.limit(0), 2)  # empty batch: no-op
    after = [
        tuple(r)
        for r in bm25_query(
            load_bm25_index(spark, path), ["apple"], k=10
        ).collect()
    ]
    assert after == before
    assert load_bm25_index(spark, path)["manifest"].n_docs == 3

    # partial overlap (doc 3 present, doc 9 new) must refuse loudly
    partial = spark.createDataFrame(
        [(3, "apple date"), (9, "fig grape")], "doc_id long, text string"
    )
    with _pytest.raises(ValueError, match="partially present"):
        sink(partial, 3)


def test_bm25_index_sink_torn_index_raises_not_overwrites(spark, tmp_path):
    """r9 advice (high): a manifest-present index that fails to LOAD —
    the torn-append count mismatch, or any transient error — must stop
    the stream, not be silently replaced by the current microbatch (the
    old bare-except fallback lost every previously ingested document
    on replay-after-crash)."""
    import pytest as _pytest

    from noaa_oracle_spark.pipeline.text import (
        _BM25_MANIFEST_SCHEMA,
        load_bm25_index,
    )
    from noaa_oracle_spark.streaming import bm25_index_sink

    path = str(tmp_path / "tidx")
    sink = bm25_index_sink(path)
    b1 = spark.createDataFrame(
        [(1, "apple banana"), (2, "banana cherry")],
        "doc_id long, text string",
    )
    sink(b1, 0)
    meta = load_bm25_index(spark, path)["manifest"]

    # simulate the torn append: postings grew but the manifest rewrite
    # never happened → the on-disk postings file count no longer matches
    # the manifest's ledger (r13: load validation is the O(1) file-count
    # check; rows stay consistent with what the stale manifest claims)
    torn = spark.createDataFrame(
        [(1, int(meta.n_docs), float(meta.avgdl),
          int(meta.n_postings) + 2, str(meta.id_col),
          int(meta.n_postings_files) + 1, int(meta.postings_bytes))],
        _BM25_MANIFEST_SCHEMA,
    )
    torn.write.mode("overwrite").parquet(f"{path}/manifest")

    b2 = spark.createDataFrame(
        [(9, "fig grape")], "doc_id long, text string"
    )
    with _pytest.raises(ValueError, match="torn or partial"):
        sink(b2, 1)
    # the accumulated postings were NOT overwritten by the microbatch
    postings = spark.read.parquet(f"{path}/postings")
    assert postings.count() == int(meta.n_postings)
    assert postings.filter(F.col("term") == "banana").count() == 2


def test_bm25_index_sink_empty_first_batch(spark, tmp_path):
    """r9 advice (medium): an empty or all-empty-text first microbatch
    (common at stream start) must produce a loadable empty index
    (avgdl 0.0), and real batches must then append normally."""
    from noaa_oracle_spark.pipeline.text import bm25_query, load_bm25_index
    from noaa_oracle_spark.streaming import bm25_index_sink

    path = str(tmp_path / "eidx")
    sink = bm25_index_sink(path)
    empty_text = spark.createDataFrame(
        [(1, ""), (2, "")], "doc_id long, text string"
    )
    sink(empty_text, 0)  # was a TypeError: float(None) on avgdl
    idx = load_bm25_index(spark, path)
    assert idx["manifest"].n_docs == 0
    assert idx["manifest"].avgdl == 0.0

    b1 = spark.createDataFrame(
        [(3, "apple banana"), (4, "apple")], "doc_id long, text string"
    )
    sink(b1, 1)
    idx = load_bm25_index(spark, path)
    assert idx["manifest"].n_docs == 2
    top = bm25_query(idx, ["apple"], k=5).collect()
    assert {r.doc_id for r in top} == {3, 4}


def test_bm25_index_sink_auto_compacts_versioned_layout(spark, tmp_path):
    """r10 verdict ask #5: with auto_compact_ratio set, the sink keeps a
    versioned index root (path/versions/v* + an atomically-rewritten
    CURRENT pointer) and compacts once appends fragment the postings
    past ratio× the version's creation file count.  A 20-append stream
    must end compacted — CURRENT repointed at least once — with scores
    IDENTICAL across every switch (compaction never changes the row
    set), and every batch's docs present exactly once at the end."""
    from noaa_oracle_spark.pipeline.text import (
        _parquet_file_count,
        bm25_query,
        load_bm25_index,
        save_bm25_index,
    )
    from noaa_oracle_spark.streaming.corpus import (
        bm25_index_sink,
        current_bm25_index_path,
        read_current_bm25_version,
    )

    root = str(tmp_path / "vroot")
    sink = bm25_index_sink(root, auto_compact_ratio=3.0)
    words = ["apple", "banana", "cherry", "date", "fig"]
    n_batches, per_batch = 20, 3
    all_docs = []
    versions_seen = []
    for b in range(n_batches):
        rows = [
            (
                b * per_batch + i,
                f"{words[(b + i) % 5]} {words[(b + 2 * i + 1) % 5]}",
            )
            for i in range(per_batch)
        ]
        all_docs.extend(rows)
        batch = spark.createDataFrame(rows, "doc_id long, text string")
        # scores must be identical across a switch: snapshot before/after
        if b > 0:
            pre_path = current_bm25_index_path(spark, root)
            pre = [
                tuple(r)
                for r in bm25_query(
                    load_bm25_index(spark, pre_path), ["apple"], k=100
                ).collect()
            ]
        sink(batch, b)
        cur = read_current_bm25_version(spark, root)
        if cur not in versions_seen:
            versions_seen.append(cur)
            if b > 0:
                # a switch happened THIS batch: the new version must
                # serve exactly the pre-switch scores + this batch
                # (checked cumulatively below); at minimum the old
                # version's docs survived
                post_idx = load_bm25_index(
                    spark, current_bm25_index_path(spark, root)
                )
                assert int(post_idx["manifest"].n_docs) == (b + 1) * per_batch

    assert len(versions_seen) > 1, "20 appends never triggered compaction"

    final_path = current_bm25_index_path(spark, root)
    final = load_bm25_index(spark, final_path)
    assert int(final["manifest"].n_docs) == n_batches * per_batch

    # scores == a fresh batch build over the concatenated corpus
    fresh_path = str(tmp_path / "fresh")
    save_bm25_index(
        spark.createDataFrame(all_docs, "doc_id long, text string"),
        fresh_path,
    )
    fresh = load_bm25_index(spark, fresh_path)
    for term in words:
        got = sorted(
            tuple(r)
            for r in bm25_query(final, [term], k=100).collect()
        )
        want = sorted(
            tuple(r)
            for r in bm25_query(fresh, [term], k=100).collect()
        )
        assert got == want, term

    # the live version is compact relative to the fragmented one it
    # replaced: its file count must be far below 20 appends' worth
    assert _parquet_file_count(
        spark, f"{final_path}/postings"
    ) <= 3 * _parquet_file_count(spark, f"{fresh_path}/postings")

    # replaying the last batch against the versioned layout is a no-op
    last = spark.createDataFrame(
        all_docs[-per_batch:], "doc_id long, text string"
    )
    sink(last, n_batches - 1)
    assert (
        int(
            load_bm25_index(
                spark, current_bm25_index_path(spark, root)
            )["manifest"].n_docs
        )
        == n_batches * per_batch
    )


def test_bm25_index_sink_auto_compact_validation(spark, tmp_path):
    import pytest as _pytest

    from noaa_oracle_spark.streaming.corpus import (
        bm25_index_sink,
        current_bm25_index_path,
    )

    with _pytest.raises(ValueError, match="exceed 1.0"):
        bm25_index_sink(str(tmp_path / "x"), auto_compact_ratio=1.0)
    with _pytest.raises(ValueError, match="no committed version"):
        current_bm25_index_path(spark, str(tmp_path / "empty"))


def test_pq_index_sink_appends_replays_and_auto_compacts(spark, tmp_path):
    """bm25_index_sink's vector twin: a bootstrapped versioned IVF-PQ
    root grows by one encode-under-frozen-codebooks append per
    microbatch, auto-compacts once the codes file count passes ratio×
    the version baseline, serves neighbors IDENTICAL to a rebuilt index
    across every switch, and keeps the BM25 sink's replay discipline
    (full replay skipped, partial overlap raises, uninit root raises)."""
    import numpy as np
    import pytest as _pytest
    from pyspark.sql import functions as F

    from noaa_oracle_spark.pipeline.pq import (
        ivfpq_query,
        load_pq_index,
        pq_train,
        save_ivfpq_index,
    )
    from noaa_oracle_spark.streaming.corpus import (
        current_pq_index_path,
        init_versioned_pq_index,
        pq_index_sink,
        read_current_bm25_version,
    )

    rng = np.random.RandomState(53)
    vecs = rng.randn(260, 16)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(260)],
        "vec_id long, embedding array<double>",
    )
    base = emb.filter(F.col("vec_id") < 140)
    books = pq_train(base, m=4, k=8, iters=1)
    cells = emb.filter(F.col("vec_id") < 6)
    root = str(tmp_path / "pqroot")

    sink = pq_index_sink(root, auto_compact_ratio=3.0)
    # uninitialized root: the sink must refuse (codebooks are corpus
    # artifacts, not microbatch ones)
    b0 = emb.filter((F.col("vec_id") >= 140) & (F.col("vec_id") < 150))
    with _pytest.raises(ValueError, match="bootstrap"):
        sink(b0, 0)

    init_versioned_pq_index(spark, root, books, base, cells=cells)
    versions = [read_current_bm25_version(spark, root)]
    n_batches, per_batch = 12, 10
    for b in range(n_batches):
        lo = 140 + b * per_batch
        batch = emb.filter(
            (F.col("vec_id") >= lo) & (F.col("vec_id") < lo + per_batch)
        )
        sink(batch, b)
        cur = read_current_bm25_version(spark, root)
        if cur != versions[-1]:
            versions.append(cur)
    assert len(versions) > 1, "12 appends never triggered compaction"

    final_path = current_pq_index_path(spark, root)
    final = load_pq_index(spark, final_path)
    assert int(final["manifest"].n_encoded) == 260

    # serve == a rebuilt index over the full corpus
    rebuilt_path = str(tmp_path / "rebuilt")
    save_ivfpq_index(books, emb, cells, rebuilt_path)
    rebuilt = load_pq_index(spark, rebuilt_path)
    for vid in (0, 150, 259):
        qvec = [float(x) for x in vecs[vid]]
        got = sorted(
            tuple(r)
            for r in ivfpq_query(final, qvec, k=3, nprobe=3).collect()
        )
        want = sorted(
            tuple(r)
            for r in ivfpq_query(rebuilt, qvec, k=3, nprobe=3).collect()
        )
        assert got == want, vid

    # full replay of the last batch: no-op
    last = emb.filter(F.col("vec_id") >= 140 + (n_batches - 1) * per_batch)
    sink(last, n_batches - 1)
    assert (
        int(
            load_pq_index(
                spark, current_pq_index_path(spark, root)
            )["manifest"].n_encoded
        )
        == 260
    )

    # partial overlap (one present id, one new) must refuse loudly
    partial = spark.createDataFrame(
        [(259, [float(x) for x in vecs[259]]),
         (999, [float(x) for x in vecs[0]])],
        "vec_id long, embedding array<double>",
    )
    with _pytest.raises(ValueError, match="partially present"):
        sink(partial, 99)

    with _pytest.raises(ValueError, match="exceed 1.0"):
        pq_index_sink(root, auto_compact_ratio=0.5)


def test_versioned_sink_refuses_legacy_root(spark, tmp_path):
    """r11 advice #2: enabling auto_compact_ratio on a path that already
    holds a NON-versioned index must raise (a fresh versioned index
    would silently drop every previously indexed document from serving)
    instead of starting versions/ next to the legacy manifest."""
    import pytest as _pytest

    from noaa_oracle_spark.pipeline.text import save_bm25_index
    from noaa_oracle_spark.streaming.corpus import bm25_index_sink

    root = str(tmp_path / "legacy")
    save_bm25_index(
        spark.createDataFrame(
            [(1, "old corpus doc"), (2, "another old doc")],
            "doc_id long, text string",
        ),
        root,
    )
    sink = bm25_index_sink(root, auto_compact_ratio=3.0)
    batch = spark.createDataFrame([(3, "new doc")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="non-versioned index"):
        sink(batch, 0)


def test_prune_index_versions(spark, tmp_path):
    """r11 advice #4: versioned roots never GC'd themselves — the prune
    helper deletes every version except CURRENT's target, refuses an
    uncommitted root, and serving off CURRENT is unaffected."""
    import pytest as _pytest

    from noaa_oracle_spark.pipeline.text import bm25_query, load_bm25_index
    from noaa_oracle_spark.streaming.corpus import (
        bm25_index_sink,
        current_bm25_index_path,
        prune_index_versions,
        read_current_bm25_version,
    )

    root = str(tmp_path / "proot")
    sink = bm25_index_sink(root, auto_compact_ratio=2.0)
    words = ["apple", "banana", "cherry"]
    for b in range(12):
        rows = [(b * 2 + i, words[(b + i) % 3]) for i in range(2)]
        sink(spark.createDataFrame(rows, "doc_id long, text string"), b)
    versions_dir = tmp_path / "proot" / "versions"
    assert len(list(versions_dir.iterdir())) > 1, "no compaction happened"

    cur = read_current_bm25_version(spark, root)
    deleted = prune_index_versions(spark, root)
    assert deleted and cur not in deleted
    remaining = [p.name for p in versions_dir.iterdir()]
    assert remaining == [cur]

    # serving off the pruned root is unaffected
    idx = load_bm25_index(spark, current_bm25_index_path(spark, root))
    assert int(idx["manifest"].n_docs) == 24
    assert bm25_query(idx, ["apple"], k=5).count() > 0

    # pruning again is a no-op; an uncommitted root refuses
    assert prune_index_versions(spark, root) == []
    with _pytest.raises(ValueError, match="refusing"):
        prune_index_versions(spark, str(tmp_path / "nothing"))


def test_pq_index_sink_drift_metric(spark, tmp_path):
    """r11 verdict ask #4: the sink records each microbatch's mean
    reconstruction error under the version's FROZEN codebooks — a
    stationary stream holds the series flat, a planted distribution
    shift moves it sharply — and the series survives a compaction
    switch (codebooks are unchanged by file layout)."""
    import numpy as np
    from pyspark.sql import functions as F

    from noaa_oracle_spark.pipeline.pq import pq_train
    from noaa_oracle_spark.streaming.corpus import (
        current_pq_index_path,
        init_versioned_pq_index,
        pq_index_sink,
        read_drift_metrics,
    )

    rng = np.random.RandomState(71)
    dim = 16
    base_vecs = rng.randn(160, dim)
    stationary = rng.randn(80, dim)          # same distribution
    shifted = rng.randn(40, dim) + 6.0       # planted shift

    def frame(vals, start):
        return spark.createDataFrame(
            [
                (start + i, [float(x) for x in vals[i]])
                for i in range(len(vals))
            ],
            "vec_id long, embedding array<double>",
        )

    base = frame(base_vecs, 0)
    books = pq_train(base, m=4, k=8, iters=1)
    cells = base.filter(F.col("vec_id") < 4)

    # stationary root: 4 same-distribution batches → flat series
    root_s = str(tmp_path / "stationary")
    init_versioned_pq_index(spark, root_s, books, base, cells=cells)
    sink_s = pq_index_sink(root_s, auto_compact_ratio=2.0)
    for b in range(4):
        sink_s(frame(stationary[b * 20:(b + 1) * 20], 160 + b * 20), b)
    ver_s = current_pq_index_path(spark, root_s)
    series_s = read_drift_metrics(spark, ver_s)
    assert len(series_s) == 4  # carried across any compaction switch
    mses = [r.mse for r in series_s]
    assert max(mses) / min(mses) < 1.5, mses  # flat within noise

    # shifted root: 2 stationary batches then 2 shifted → sharp rise
    root_d = str(tmp_path / "drifting")
    init_versioned_pq_index(spark, root_d, books, base, cells=cells)
    sink_d = pq_index_sink(root_d)
    sink_d(frame(stationary[0:20], 160), 0)
    sink_d(frame(stationary[20:40], 180), 1)
    sink_d(frame(shifted[0:20], 200), 2)
    sink_d(frame(shifted[20:40], 220), 3)
    series_d = read_drift_metrics(
        spark, current_pq_index_path(spark, root_d)
    )
    assert len(series_d) == 4
    assert series_d[-1].mse > 2.0 * series_d[0].mse, [
        r.mse for r in series_d
    ]
    # replayed batch (skipped append) must not re-emit a metric row
    sink_d(frame(shifted[20:40], 220), 3)
    assert len(
        read_drift_metrics(spark, current_pq_index_path(spark, root_d))
    ) == 4


def test_retrain_pq_index_closes_drift_loop(spark, tmp_path):
    """The drift signal's closing action: after a planted distribution
    shift pushes the sink's mse series up, `retrain_pq_index` on the
    full source-of-truth corpus produces a new version IDENTICAL to a
    from-scratch deterministic build over that corpus, atomically
    repoints CURRENT, resets the drift series, and the running sink's
    next same-distribution batch records a far lower error — while the
    replay discipline and serving carry straight over."""
    import numpy as np
    import pytest as _pytest
    from pyspark.sql import functions as F

    from noaa_oracle_spark.pipeline.pq import (
        ivfpq_query,
        load_pq_index,
        pq_train,
        save_ivfpq_index,
    )
    from noaa_oracle_spark.pipeline.similarity import lloyd_refine
    from noaa_oracle_spark.streaming.corpus import (
        current_pq_index_path,
        init_versioned_pq_index,
        pq_index_sink,
        read_current_bm25_version,
        read_drift_metrics,
        retrain_pq_index,
    )

    rng = np.random.RandomState(97)
    dim = 16
    base_vecs = rng.randn(160, dim)
    shifted = rng.randn(60, dim) + 6.0  # the drifted regime

    def frame(vals, start):
        return spark.createDataFrame(
            [
                (start + i, [float(x) for x in vals[i]])
                for i in range(len(vals))
            ],
            "vec_id long, embedding array<double>",
        )

    base = frame(base_vecs, 0)
    books = pq_train(base, m=4, k=8, iters=1)
    cells = base.filter(F.col("vec_id") < 4)
    root = str(tmp_path / "root")
    init_versioned_pq_index(spark, root, books, base, cells=cells)

    sink = pq_index_sink(root)
    sink(frame(shifted[0:20], 160), 0)
    sink(frame(shifted[20:40], 180), 1)
    pre = read_drift_metrics(spark, current_pq_index_path(spark, root))
    assert len(pre) == 2 and pre[-1].mse > 5.0, [r.mse for r in pre]

    # guards: partial corpus refuses; wrong id_col refuses
    with _pytest.raises(ValueError, match="shrink"):
        retrain_pq_index(spark, root, base)
    full = frame(np.vstack([base_vecs, shifted[0:40]]), 0)
    with _pytest.raises(ValueError, match="id_col"):
        retrain_pq_index(
            spark, root, full.withColumnRenamed("vec_id", "doc_id"),
            id_col="doc_id",
        )
    with _pytest.raises(ValueError, match="bootstrap"):
        retrain_pq_index(spark, str(tmp_path / "nowhere"), full)

    old_ver = read_current_bm25_version(spark, root)
    new_path = retrain_pq_index(spark, root, full, iters=2)
    assert read_current_bm25_version(spark, root) != old_ver
    assert current_pq_index_path(spark, root) == new_path
    assert read_drift_metrics(spark, new_path) == []  # fresh series

    # the retrained version == a from-scratch deterministic build over
    # the same corpus with the mirrored config (m/k from the manifest,
    # same cell count, same iters)
    expect_path = str(tmp_path / "expected")
    books2 = pq_train(full, m=4, k=8, iters=2)
    cells2 = lloyd_refine(full, k=4, iters=2)
    save_ivfpq_index(books2, full, cells2, expect_path)
    got_idx = load_pq_index(spark, new_path)
    want_idx = load_pq_index(spark, expect_path)
    assert int(got_idx["manifest"].n_encoded) == 200
    for vid in (0, 100, 199):
        qvec = [float(x) for x in full.filter(
            F.col("vec_id") == vid
        ).collect()[0].embedding]
        got = sorted(
            tuple(r)
            for r in ivfpq_query(got_idx, qvec, k=3, nprobe=2).collect()
        )
        want = sorted(
            tuple(r)
            for r in ivfpq_query(want_idx, qvec, k=3, nprobe=2).collect()
        )
        assert got == want, vid

    # replayed pre-retrain batch: all ids already present → no-op
    sink(frame(shifted[20:40], 180), 1)
    assert int(
        load_pq_index(
            spark, current_pq_index_path(spark, root)
        )["manifest"].n_encoded
    ) == 200

    # the loop actually closes: a NEW shifted-regime batch now encodes
    # under codebooks that have seen that regime — error collapses.
    # The replayed batch above RECOVERED its drift row into the fresh
    # series (measured under the NEW codebooks — a valid baseline for
    # the reset series), so the series is [replayed, new].
    sink(frame(shifted[40:60], 200), 2)
    post = read_drift_metrics(spark, current_pq_index_path(spark, root))
    assert [r.batch_id for r in post] == [1, 2]
    assert all(
        r.mse < 0.5 * pre[-1].mse for r in post
    ), ([r.mse for r in post], pre[-1].mse)

    # retrain again (corpus now includes batch 2): version name derives
    # from the same CURRENT lineage and must not collide
    full2 = frame(np.vstack([base_vecs, shifted]), 0)
    newer = retrain_pq_index(spark, root, full2)
    assert newer != new_path
    assert current_pq_index_path(spark, root) == newer


def test_retrain_pq_index_flat_opq_refreshes_rotation(spark, tmp_path):
    """Flat-OPQ twin: a root whose live index carries an OPQ rotation
    retrains with a FRESH rotation (drift invalidates the old geometry
    too), and the new version's codes/rotation are bit-identical to the
    deterministic from-scratch pipeline over the same corpus."""
    import numpy as np

    from noaa_oracle_spark.pipeline.pq import (
        _manifest_rotation,
        load_pq_index,
        opq_train_rotation,
        pq_encode,
        pq_train,
        rotate_embeddings,
    )
    from noaa_oracle_spark.streaming.corpus import (
        init_versioned_pq_index,
        retrain_pq_index,
    )

    rng = np.random.RandomState(11)
    dim = 8
    base_vecs = rng.randn(120, dim) * np.array([3.0, 1.0] * 4)
    grown_vecs = np.vstack(
        [base_vecs, rng.randn(40, dim) * np.array([1.0, 3.0] * 4)]
    )

    def frame(vals):
        return spark.createDataFrame(
            [(i, [float(x) for x in vals[i]]) for i in range(len(vals))],
            "vec_id long, embedding array<double>",
        )

    base = frame(base_vecs)
    rot0 = opq_train_rotation(base, m=4)
    base_rot = rotate_embeddings(base, rot0)
    books0 = pq_train(base_rot, m=4, k=8, iters=1)
    root = str(tmp_path / "flatroot")
    init_versioned_pq_index(spark, root, books0, base_rot, rotation=rot0)

    full = frame(grown_vecs)
    new_path = retrain_pq_index(spark, root, full, iters=1)
    got = load_pq_index(spark, new_path)
    new_rot = _manifest_rotation(got["manifest"])
    assert new_rot is not None
    assert not np.allclose(
        np.asarray(new_rot), np.asarray(rot0)
    ), "rotation must be retrained, not carried"

    # bit-identical to the from-scratch deterministic pipeline
    rot1 = opq_train_rotation(full, m=4)
    full_rot = rotate_embeddings(full, rot1)
    books1 = pq_train(full_rot, m=4, k=8, iters=1)
    want_codes = sorted(
        (r.vec_id, tuple(r.codes))
        for r in pq_encode(full_rot, books1).collect()
    )
    got_codes = sorted(
        (r.vec_id, tuple(r.codes)) for r in got["codes"].collect()
    )
    assert got_codes == want_codes
    assert np.allclose(np.asarray(new_rot), rot1)


def test_retrain_pq_index_detects_concurrent_advance(
    spark, tmp_path, monkeypatch
):
    """A sink batch landing DURING a retrain appends vectors the corpus
    snapshot never saw — the repoint must refuse loudly (the trained
    version would silently drop them from serving) and leave CURRENT on
    the live lineage."""
    import numpy as np
    import pytest as _pytest
    from pyspark.sql import functions as F

    import noaa_oracle_spark.pipeline.pq as pqmod
    from noaa_oracle_spark.streaming.corpus import (
        current_pq_index_path,
        init_versioned_pq_index,
        pq_index_sink,
        read_current_bm25_version,
        retrain_pq_index,
    )

    rng = np.random.RandomState(29)
    vecs = rng.randn(140, 8)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(140)],
        "vec_id long, embedding array<double>",
    )
    base = emb.filter(F.col("vec_id") < 120)
    books = pqmod.pq_train(base, m=4, k=8, iters=1)
    cells = emb.filter(F.col("vec_id") < 4)
    root = str(tmp_path / "race")
    init_versioned_pq_index(spark, root, books, base, cells=cells)

    sink = pq_index_sink(root)
    real_train = pqmod.pq_train
    fired = {}

    def train_with_concurrent_append(*args, **kwargs):
        if "fired" not in fired:  # only the retrain-time call races
            fired["fired"] = True
            sink(emb.filter(F.col("vec_id") >= 120), 0)
        return real_train(*args, **kwargs)

    monkeypatch.setattr(pqmod, "pq_train", train_with_concurrent_append)
    before = read_current_bm25_version(spark, root)
    with _pytest.raises(ValueError, match="advanced during"):
        retrain_pq_index(spark, root, base, iters=1)
    assert fired.get("fired")
    # CURRENT still points at the live (advanced) lineage, not the
    # abandoned retrain output
    assert read_current_bm25_version(spark, root) == before
    assert int(
        pqmod.load_pq_index(
            spark, current_pq_index_path(spark, root)
        )["manifest"].n_encoded
    ) == 140


def test_pq_sink_replay_recovers_lost_drift_row(spark, tmp_path):
    """r12 review: the drift row lands AFTER the append commits, so a
    crash in between lost it forever (the replay short-circuited) —
    skewing the mse_first baseline the retrain decision reads.  The
    replay path now recovers the missing row by re-encoding just that
    batch, producing EXACTLY the row the uncrashed sink records; a
    replay whose row exists still writes nothing."""
    import numpy as np
    from pyspark.sql import functions as F

    from noaa_oracle_spark.pipeline.pq import append_pq_index, pq_train
    from noaa_oracle_spark.streaming.corpus import (
        current_pq_index_path,
        init_versioned_pq_index,
        pq_index_sink,
        read_drift_metrics,
    )

    rng = np.random.RandomState(61)
    vecs = rng.randn(180, 16)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(180)],
        "vec_id long, embedding array<double>",
    )
    base = emb.filter(F.col("vec_id") < 140)
    books = pq_train(base, m=4, k=8, iters=1)
    cells = emb.filter(F.col("vec_id") < 4)
    batch = emb.filter(F.col("vec_id") >= 140)

    # root A: the uncrashed sink — the reference drift row
    root_a = str(tmp_path / "normal")
    init_versioned_pq_index(spark, root_a, books, base, cells=cells)
    sink_a = pq_index_sink(root_a)
    sink_a(batch, 7)
    want = read_drift_metrics(spark, current_pq_index_path(spark, root_a))
    assert len(want) == 1

    # root B: append committed (codes + manifest), crash before the
    # drift write — then the stream replays batch 7
    root_b = str(tmp_path / "crashed")
    init_versioned_pq_index(spark, root_b, books, base, cells=cells)
    ver_b = current_pq_index_path(spark, root_b)
    append_pq_index(spark, ver_b, batch)
    assert read_drift_metrics(spark, ver_b) == []  # the hole
    sink_b = pq_index_sink(root_b)
    sink_b(batch, 7)
    got = read_drift_metrics(spark, ver_b)
    assert [(r.batch_id, r.n) for r in got] == [
        (r.batch_id, r.n) for r in want
    ]
    # same mean up to float summation order (the recovery aggregates
    # the raw encode; the live path aggregates the cell-keyed frame)
    assert got[0].mse == pytest.approx(want[0].mse, rel=1e-9)
    # replaying again must not duplicate the recovered row
    sink_b(batch, 7)
    assert len(read_drift_metrics(spark, ver_b)) == 1
