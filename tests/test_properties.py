"""Property-based tests (hypothesis) — randomized cross-checks the
reference's own test suite lacks (SURVEY §5). Example counts are small:
every example runs Spark jobs.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from noaa_oracle_spark.operators.windows import carry_forward
from noaa_oracle_spark.sql.rewriter import rewrite_duckdb_sql

SLOW = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

rows_strategy = st.lists(
    st.tuples(
        st.integers(0, 3),                      # key
        st.integers(0, 5),                      # ord
        st.one_of(st.none(), st.integers(-5, 5)),  # value (nullable)
        st.integers(0, 10 ** 6),                # unique-ish tiebreak seed
    ),
    min_size=1,
    max_size=25,
)


@SLOW
@given(rows=rows_strategy)
def test_carry_forward_matches_pandas_ffill(spark, rows):
    uniq = [(k, i, v) for i, (k, _, v, _) in enumerate(rows)]
    df = spark.createDataFrame(uniq, "k int, seq int, v int")
    out = carry_forward(df, ["v"], ["k"], [F.asc("seq")])
    got = {(r["k"], r["seq"], r["v"]) for r in out.collect()}
    pdf = pd.DataFrame(uniq, columns=["k", "seq", "v"]).sort_values(
        ["k", "seq"]
    )
    pdf["v"] = pdf.groupby("k")["v"].ffill()
    exp = {
        (int(k), int(s), int(v) if pd.notna(v) else None)
        for k, s, v in pdf.itertuples(index=False)
    }
    assert got == exp


@SLOW
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 9), st.integers(-99, 99)),
        min_size=1,
        max_size=20,
    )
)
def test_distinct_on_rewrite_matches_duckdb(spark, rows):
    """The DISTINCT ON string rewrite run on Spark ≡ DuckDB running the
    original, on random tables, under a total order."""
    uniq = [(k, o, v, i) for i, (k, o, v) in enumerate(rows)]
    con = duckdb.connect()
    con.execute("CREATE TABLE t(k INT, o INT, v INT, uid INT)")
    con.executemany("INSERT INTO t VALUES (?,?,?,?)", uniq)
    sql = (
        "SELECT DISTINCT ON (k) k, o, v, uid FROM t "
        "ORDER BY k, o DESC, uid ASC"
    )
    exp = sorted(map(tuple, con.execute(sql).fetchall()))

    spark.createDataFrame(uniq, "k int, o int, v int, uid int").createOrReplaceTempView("t")
    got = sorted(
        tuple(r) for r in spark.sql(rewrite_duckdb_sql(sql)).collect()
    )
    assert got == exp


word_strategy = st.text(alphabet="abcd", min_size=1, max_size=3)
texts_strategy = st.lists(
    st.lists(word_strategy, min_size=1, max_size=40).map(" ".join),
    min_size=1,
    max_size=12,
)


@SLOW
@given(texts=texts_strategy, chunk=st.integers(4, 12), ov=st.integers(0, 3))
def test_chunking_covers_every_token_in_order(spark, texts, chunk, ov):
    """chunk_documents invariants under random corpora: dropping each
    chunk's leading `overlap` tokens (after the first) and concatenating
    reproduces the document exactly; no chunk exceeds chunk_tokens."""
    from noaa_oracle_spark.pipeline.text import chunk_documents

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    out = chunk_documents(docs, chunk_tokens=chunk, overlap=ov).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, text in enumerate(texts):
        rs = sorted(by_doc[i], key=lambda r: r.chunk_idx)
        assert all(r.n_chunk_tokens <= chunk for r in rs)
        words = [r.chunk_text.split(" ") for r in rs]
        rebuilt = words[0] + sum((w[ov:] for w in words[1:]), [])
        assert rebuilt == text.split(" "), (text, words)


@SLOW
@given(texts=texts_strategy, span=st.integers(2, 6))
def test_span_dedup_invariants(spark, texts, span):
    """span_dedup invariants: n_kept <= n_spans; a document whose every
    span is corpus-unique survives verbatim; kept text is always a
    subsequence of the original's span sequence."""
    from noaa_oracle_spark.pipeline.text import span_dedup

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    out = {r.doc_id: r for r in span_dedup(docs, span_words=span).collect()}
    for i, text in enumerate(texts):
        r = out[i]
        assert 0 <= r.n_kept <= r.n_spans
        words = text.split(" ")
        spans = [
            " ".join(words[s:s + span]) for s in range(0, len(words), span)
        ]
        kept = r.clean_text.split(" ") if r.clean_text else []
        # kept text must be the in-order concatenation of a subset of spans
        pos = 0
        for sp in spans:
            sp_words = sp.split(" ")
            if kept[pos:pos + len(sp_words)] == sp_words:
                pos += len(sp_words)
        assert pos == len(kept), (spans, kept)
        if r.n_kept == r.n_spans:
            assert r.clean_text == text


_vec8 = st.lists(
    st.floats(-4, 4, allow_nan=False, allow_infinity=False, width=32)
    .filter(lambda x: abs(x) > 1e-3 or x == 0.0),
    min_size=8,
    max_size=8,
)


@SLOW
@given(
    qvec=_vec8.filter(lambda v: any(x != 0.0 for x in v)),
    cents=st.lists(
        _vec8.filter(lambda v: any(x != 0.0 for x in v)),
        min_size=2,
        max_size=6,
    ),
    nprobe=st.integers(1, 4),
)
def test_probe_cells_matches_spark_expression_ranking(
    spark, qvec, cents, nprobe
):
    """`pq.probe_cells` (the serve path's numpy coarse routing) must rank
    cells EXACTLY like the Spark expression form `ivfpq_knn` uses
    (round(dot/(|q||c|), 6) with row_number over (sim DESC, cid ASC)) —
    same `_dot`/`_norm` primitives, left-fold accumulation, half-up
    rounding.  Ties are forced, not hoped for: every centroid gets a
    2×-scaled DUPLICATE appended (cosine is scale-invariant, so each
    pair collides exactly and only the cid tiebreak separates them)."""
    from pyspark.sql import Window

    from noaa_oracle_spark.pipeline.pq import probe_cells
    from noaa_oracle_spark.pipeline.similarity import _as_double, _dot, _norm

    # scaled duplicates -> guaranteed rounded-cosine ties across cids
    cent_rows = [(i, v) for i, v in enumerate(cents)] + [
        (100 + i, [2.0 * x for x in v]) for i, v in enumerate(cents)
    ]
    cells = spark.createDataFrame(
        cent_rows, "vec_id long, embedding array<double>"
    )

    got = probe_cells(cells, qvec, nprobe)

    qdf = spark.createDataFrame(
        [(0, qvec)], "vec_id long, embedding array<double>"
    )
    cent = cells.select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("c_vec"),
        _norm(_as_double(F.col("embedding"))).alias("c_nrm"),
    )
    scored = (
        qdf.select(
            F.col("embedding").alias("q_vec"),
            _norm(_as_double(F.col("embedding"))).alias("q_nrm"),
        )
        .crossJoin(F.broadcast(cent))
        .select(
            "c_id",
            F.round(
                _dot(_as_double(F.col("q_vec")), _as_double(F.col("c_vec")))
                / (F.col("q_nrm") * F.col("c_nrm")),
                6,
            ).alias("a_sim"),
        )
    )
    w = Window.orderBy(F.desc("a_sim"), F.asc("c_id"))
    want = [
        r.c_id
        for r in scored.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= nprobe)
        .orderBy("r")
        .collect()
    ]
    assert got == want
