"""r13 optimization-round internals: the index-manifest FILE LEDGER that
makes validated loads O(1) (one globStatus listing) instead of a Spark
count job whose listing/footer cost grows with accumulated appends —
the r12 "Not yet optimized" #2 item, both index families.

Pinned invariants:

  * the ledger equals the on-disk truth after save / append / merge /
    compact, and the manifest row count still equals the on-disk ROW
    truth (the row-level check the validated load no longer re-runs);
  * `min_vec_id` served from the manifest equals the true id floor
    through every maintenance op;
  * a planted orphan file (torn append) fails the validated load;
  * a LEGACY manifest (predating the ledger) still loads through the
    original row-count path — and still rejects a row-level tear.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from noaa_oracle_spark.pipeline.pq import (
    append_pq_index,
    compact_pq_index,
    load_pq_index,
    pq_encode,
    pq_train,
    save_pq_index,
)
from noaa_oracle_spark.pipeline.text import (
    _parquet_file_count,
    _postings_ledger,
    append_bm25_index,
    load_bm25_index,
    save_bm25_index,
)


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.RandomState(7)
    vecs = rng.randn(180, 16).astype(np.float32)
    return spark.createDataFrame(
        [(i + 3, [float(x) for x in vecs[i]]) for i in range(180)],
        "vec_id long, embedding array<float>",
    )


@pytest.fixture(scope="module")
def docs(spark):
    words = ["alpha", "beta", "gamma", "delta"]
    rows = [
        (i, " ".join(words[(i + j) % 4] for j in range(4)))
        for i in range(90)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_pq_ledger_matches_disk_and_rows(spark, emb, tmp_path):
    books = pq_train(emb, m=4, k=8, iters=1)
    path = str(tmp_path / "idx")
    v = F.col("vec_id")
    save_pq_index(books, pq_encode(emb.filter(v < 100), books), path)
    append_pq_index(spark, path, emb.filter((v >= 100) & (v < 140)))
    append_pq_index(spark, path, emb.filter(v >= 140))
    idx = load_pq_index(spark, path)  # validated via the ledger
    meta = idx["manifest"]
    # ledger == on-disk file truth
    assert int(meta.n_code_files) == _parquet_file_count(
        spark, f"{path}/codes"
    )
    # manifest row count == on-disk ROW truth (the check the validated
    # load no longer re-runs — pinned here instead)
    assert spark.read.parquet(f"{path}/codes").count() == int(
        meta.n_encoded
    )
    # the id floor survives maintenance exactly (fixture ids start at 3)
    assert idx["min_vec_id"] == 3

    compacted = str(tmp_path / "cidx")
    compact_pq_index(spark, path, compacted)
    cidx = load_pq_index(spark, compacted)
    assert int(cidx["manifest"].n_code_files) == _parquet_file_count(
        spark, f"{compacted}/codes"
    )
    assert cidx["min_vec_id"] == 3


def test_pq_ledger_detects_orphan_file(spark, emb, tmp_path):
    books = pq_train(emb, m=4, k=8, iters=1)
    path = str(tmp_path / "torn")
    v = F.col("vec_id")
    save_pq_index(books, pq_encode(emb.filter(v < 100), books), path)
    # torn append: codes land, manifest rewrite dies
    pq_encode(emb.filter(v >= 100), books).write.mode("append").parquet(
        f"{path}/codes"
    )
    with pytest.raises(ValueError, match="inconsistent index"):
        load_pq_index(spark, path)


def test_pq_legacy_manifest_falls_back_to_row_count(spark, emb, tmp_path):
    from noaa_oracle_spark.pipeline.metaio import (
        read_meta_rows,
        write_meta_rows,
    )

    books = pq_train(emb, m=4, k=8, iters=1)
    path = str(tmp_path / "legacy")
    v = F.col("vec_id")
    save_pq_index(books, pq_encode(emb, books), path)
    # rewrite the manifest WITHOUT the ledger fields (a pre-r13 index)
    meta = read_meta_rows(spark, f"{path}/manifest")[0]
    legacy_schema = (
        "format_version int, m int, n_codes int, dim int, metric string, "
        "has_cells boolean, codebook_md5 string, n_encoded long, "
        "rotation array<double>"
    )
    write_meta_rows(
        spark, f"{path}/manifest", legacy_schema,
        [(1, meta.m, meta.n_codes, meta.dim, meta.metric, meta.has_cells,
          meta.codebook_md5, meta.n_encoded, meta.rotation)],
    )
    idx = load_pq_index(spark, path)  # row-count path
    assert idx["manifest"].n_encoded == 180
    assert idx["min_vec_id"] == 3  # from the aggregate, not the manifest
    # and the legacy path still rejects a row-level tear
    pq_encode(emb.filter(v < 10), books).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "codes"
    ).write.mode("append").parquet(f"{path}/codes")
    with pytest.raises(ValueError, match="inconsistent index"):
        load_pq_index(spark, path)


def test_bm25_ledger_matches_disk_and_rows(spark, docs, tmp_path):
    path = str(tmp_path / "bidx")
    d = F.col("doc_id")
    save_bm25_index(docs.filter(d < 50), path)
    append_bm25_index(spark, path, docs.filter(d >= 50))
    idx = load_bm25_index(spark, path)  # validated via the ledger
    meta = idx["manifest"]
    assert int(meta.n_postings_files) == _parquet_file_count(
        spark, f"{path}/postings"
    )
    assert int(meta.postings_bytes) == _postings_ledger(spark, path)[1]
    assert spark.read.parquet(f"{path}/postings").count() == int(
        meta.n_postings
    )


def test_bm25_legacy_manifest_falls_back_to_row_count(
    spark, docs, tmp_path
):
    from noaa_oracle_spark.pipeline.metaio import (
        read_meta_rows,
        write_meta_rows,
    )

    path = str(tmp_path / "blegacy")
    save_bm25_index(docs, path)
    meta = read_meta_rows(spark, f"{path}/manifest")[0]
    legacy_schema = (
        "format_version int, n_docs long, avgdl double, "
        "n_postings long, id_col string"
    )
    write_meta_rows(
        spark, f"{path}/manifest", legacy_schema,
        [(1, meta.n_docs, meta.avgdl, meta.n_postings, meta.id_col)],
    )
    idx = load_bm25_index(spark, path)  # row-count path
    assert idx["manifest"].n_docs == 90
    # and the legacy path still rejects a row-level tear
    spark.createDataFrame(
        [(9999, "zeta", 1)], "doc_id long, term string, tf long"
    ).write.mode("append").parquet(f"{path}/postings")
    with pytest.raises(ValueError, match="torn or partial"):
        load_bm25_index(spark, path)


def test_bm25_count_only_ledger_still_validates(spark, docs, tmp_path):
    """A manifest from before the byte ledger (file count only) loads and
    appends through the count check, and still rejects an orphan file."""
    from noaa_oracle_spark.pipeline.metaio import (
        read_meta_rows,
        write_meta_rows,
    )

    path = str(tmp_path / "bcount")
    save_bm25_index(docs.filter(F.col("doc_id") < 50), path)
    meta = read_meta_rows(spark, f"{path}/manifest")[0]
    write_meta_rows(
        spark, f"{path}/manifest",
        "format_version int, n_docs long, avgdl double, "
        "n_postings long, id_col string, n_postings_files long",
        [(1, meta.n_docs, meta.avgdl, meta.n_postings, meta.id_col,
          meta.n_postings_files)],
    )
    append_bm25_index(spark, path, docs.filter(F.col("doc_id") >= 50))
    meta = load_bm25_index(spark, path)["manifest"]
    assert meta.postings_bytes is None and meta.n_docs == 90
    spark.createDataFrame(
        [(9999, "zeta", 1)], "doc_id long, term string, tf long"
    ).write.mode("append").parquet(f"{path}/postings")
    with pytest.raises(ValueError, match="torn or partial"):
        load_bm25_index(spark, path)


def test_spread_keeps_a_wide_frame_when_the_footer_probe_fails(
    spark, tmp_path, monkeypatch
):
    """A frame already wide without a shuffle (a union of scans) but
    scanned from one file keeps the width check's verdict when its footer
    cannot be read."""
    from noaa_oracle_spark.pipeline import metaio
    from noaa_oracle_spark.pipeline.dedup import spread

    src = str(tmp_path / "one_file")
    spark.range(10).coalesce(1).write.parquet(src)
    par = spark.sparkContext.defaultParallelism
    one = spark.read.parquet(src)
    wide = one
    for _ in range(par):
        wide = wide.union(one)  # par + 1 scan partitions, no exchange

    def broken(_spark, _path):
        raise OSError("footer unreadable")

    monkeypatch.setattr(metaio, "footer_row_group_count", broken)
    assert spread(wide) is wide


def test_spread_adds_no_exchange_to_a_frame_already_shuffled_wide(
    spark, tmp_path
):
    """A frame scanned from one single-row-group file but already made wide
    by a shuffle is not probed and gets no second exchange."""
    from noaa_oracle_spark.pipeline.dedup import spread

    src = str(tmp_path / "one_row_group")
    spark.range(64).coalesce(1).write.parquet(src)
    par = spark.sparkContext.defaultParallelism
    one = spark.read.parquet(src)
    wide = one.repartition(par + 1)
    assert wide.rdd.getNumPartitions() >= par
    assert spread(wide) is wide
    # the narrow scan itself is still rebalanced
    assert spread(one).rdd.getNumPartitions() == par


# ---------------------------------------------------------------------------
# r13 kernel rewrites: bit-equality of the blocked/loop distance kernels
# with the broadcast/realloc forms they replaced (guide §4.2 — the forms
# are arithmetic-identical by construction; these pins make that a test,
# including on tie-adversarial values where a changed summation order
# would flip an argmin/argmax through the 6-dp round).
# ---------------------------------------------------------------------------


def test_sq_dists_bit_equals_broadcast_form():
    import numpy as np

    from noaa_oracle_spark.pipeline.pq import _sq_dists

    rng = np.random.default_rng(7)
    for n, k, d in [(1, 1, 1), (3, 5, 2), (257, 8, 8), (64, 256, 8)]:
        sub = rng.random((n, d)) * 10 - 5
        cb = rng.random((k, d)) * 10 - 5
        ref = ((sub[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
        assert np.array_equal(_sq_dists(sub, cb), ref)
    # tie-adversarial: duplicated codebook rows and exact-zero distances
    sub = np.array([[0.5, -0.25], [1.0, 1.0], [0.5, -0.25]])
    cb = np.array([[0.5, -0.25], [0.5, -0.25], [1.0, 1.0]])
    ref = ((sub[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
    got = _sq_dists(sub, cb)
    assert np.array_equal(got, ref)
    assert np.array_equal(got.argmin(axis=1), ref.argmin(axis=1))


def test_kmeans_blocked_fold_bit_equals_realloc_fold():
    import numpy as np

    from noaa_oracle_spark.pipeline.rounding import round_half_up

    rng = np.random.default_rng(11)
    # n deliberately NOT a multiple of the 64-row block
    n, k, d = 193, 37, 16
    mat_p = rng.random((n, d)) * 2 - 1
    mat_c = rng.random((k, d)) * 2 - 1

    def fold_norms(m):
        acc = m[:, 0] * m[:, 0]
        for i in range(1, m.shape[1]):
            acc = acc + m[:, i] * m[:, i]
        return np.sqrt(acc)

    nrm_p, nrm_c = fold_norms(mat_p), fold_norms(mat_c)
    # the OLD form: realloc left fold over dims, one full-matrix round
    dot = np.multiply.outer(mat_p[:, 0], mat_c[:, 0])
    for i in range(1, d):
        dot = dot + np.multiply.outer(mat_p[:, i], mat_c[:, i])
    ref = round_half_up(dot / np.multiply.outer(nrm_p, nrm_c), 6)
    ref_best = ref.argmax(axis=1)
    # the NEW form: row-blocked in-place fold (the kernel's exact loop)
    best = np.empty(n, np.int64)
    best_sim = np.empty(n, np.float64)
    blk = 64
    for lo in range(0, n, blk):
        hi = min(lo + blk, n)
        acc = np.multiply.outer(mat_p[lo:hi, 0], mat_c[:, 0])
        tmp = np.empty_like(acc)
        for i in range(1, d):
            np.multiply(
                mat_p[lo:hi, i][:, None], mat_c[:, i][None, :], out=tmp
            )
            acc += tmp
        sims = round_half_up(
            acc / np.multiply.outer(nrm_p[lo:hi], nrm_c), 6
        )
        assert np.array_equal(sims, ref[lo:hi])
        b = sims.argmax(axis=1)
        best[lo:hi] = b
        best_sim[lo:hi] = sims[np.arange(hi - lo), b]
    assert np.array_equal(best, ref_best)
    assert np.array_equal(best_sim, ref[np.arange(n), ref_best])


def test_kmeans_assign_numpy_equals_expr_backend(spark):
    # end-to-end: the rewritten numpy kernel vs the oracle-exact expr
    # backend on a fixture with duplicate vectors and cosine ties
    import numpy as np

    from noaa_oracle_spark.pipeline.similarity import kmeans_assign

    rng = np.random.default_rng(3)
    pts = [
        (i, [float(x) for x in rng.integers(-3, 4, size=8)])
        for i in range(200)
    ]
    # force exact ties: scaled copies of centroid directions
    pts += [(1000 + i, [float(2 * (j == i)) for j in range(8)]) for i in range(4)]
    cents = [(c, [float(j == c) for j in range(8)]) for c in range(6)]
    pdf = spark.createDataFrame(
        pts, "vec_id long, embedding array<double>"
    ).filter("aggregate(embedding, 0.0D, (a, x) -> a + x * x) > 0")
    cdf = spark.createDataFrame(
        cents, "vec_id long, embedding array<double>"
    )
    a = sorted(
        tuple(r)
        for r in kmeans_assign(pdf, cdf, backend="expr").collect()
    )
    b = sorted(
        tuple(r)
        for r in kmeans_assign(pdf, cdf, backend="numpy").collect()
    )
    assert a == b
