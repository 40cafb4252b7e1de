"""Text analysis operators: language-ID, quality scoring, token counting,
document fingerprinting. All JVM-side built-ins (split/regexp/md5) — no UDFs.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from noaa_oracle_spark.pipeline.dedup import spread

# Tiny per-language stopword lists for the n-gram/stopword heuristic.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to"],
    "es": ["el", "la", "de", "y", "que"],
    "de": ["der", "die", "das", "und", "zu"],
    "fr": ["le", "la", "de", "et", "les"],
}

# BPE-ish pre-tokenizer: letter runs, digit runs, or single non-space symbol.
TOKEN_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def _words(text_col: str = "text"):
    return F.split(F.col(text_col), " ")


def _stop_hits(lang: str, text_col: str = "text"):
    wl = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(
        F.filter(_words(text_col), lambda w: F.array_contains(wl, w))
    ).cast("long")


def language_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-vote language ID: per doc, count hits against each language's
    stopword list; argmax wins with earliest-language precedence on ties
    (expressed as a CASE chain so the identical logic runs in SQL oracles);
    no hits at all → 'und'."""
    hits = spread(docs)
    for lang in STOPWORDS:
        hits = hits.withColumn(f"hits_{lang}", _stop_hits(lang, text_col))
    langs = sorted(STOPWORDS)
    detected = None
    for lang in langs:
        cond = F.col(f"hits_{lang}") > 0
        for other in langs:
            if other != lang:
                cond = cond & (
                    F.col(f"hits_{lang}")
                    >= F.col(f"hits_{other}")
                    if langs.index(other) > langs.index(lang)
                    else F.col(f"hits_{lang}") > F.col(f"hits_{other}")
                )
        branch = F.when(cond, F.lit(lang))
        detected = branch if detected is None else detected.when(cond, F.lit(lang))
    return hits.withColumn(
        "detected_lang", detected.otherwise(F.lit("und"))
    )


def _quality_cols(text_col: str = "text") -> "dict[str, Column]":
    """The quality feature/score expressions, shared by the batch
    projection and the streaming gate — pure map-side Columns."""
    words = _words(text_col)
    n_tokens = F.size(words).cast("long")
    n_nonspace = F.length(F.regexp_replace(F.col(text_col), r"\s", ""))
    n_digits = F.length(
        F.regexp_replace(F.col(text_col), r"[^0-9]", "")
    )
    all_stop = F.array(
        *[F.lit(w) for ws in STOPWORDS.values() for w in ws]
    )
    n_stop = F.size(
        F.filter(words, lambda w: F.array_contains(all_stop, w))
    ).cast("long")
    # integer-scaled ratios (per-mille) keep the oracle comparison exact
    stop_permille = F.floor(n_stop * 1000 / n_tokens).cast("long")
    digit_permille = F.floor(
        n_digits * 1000 / F.greatest(n_nonspace, F.lit(1))
    ).cast("long")
    score = (
        F.lit(100)
        - F.when(n_tokens < 20, 40).otherwise(0)
        - F.when(stop_permille < 50, 30).otherwise(0)
        - F.when(digit_permille > 300, 20).otherwise(0)
    ).cast("long")
    return {
        "n_tokens": n_tokens,
        "n_stopwords": n_stop,
        "stop_permille": stop_permille,
        "digit_permille": digit_permille,
        "quality_score": score,
    }


def quality_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic document quality features + score:
    token count, mean token length, stopword ratio, digit ratio, and a
    0-100 composite. Mirrors the usual pretraining-corpus quality filters."""
    cols = _quality_cols(text_col)
    return spread(docs).select(
        "doc_id", *[c.alias(name) for name, c in cols.items()]
    )


def quality_filter(
    docs: DataFrame, min_score: int = 60, text_col: str = "text"
) -> DataFrame:
    """Keep documents scoring >= min_score, with the score attached —
    the gate form of quality_scores that PRESERVES the input columns, so
    it composes inside batch pipelines and Structured Streaming queries
    alike (pure map-side expressions: no shuffle, no state)."""
    score = _quality_cols(text_col)["quality_score"]
    return docs.withColumn("quality_score", score).filter(
        F.col("quality_score") >= min_score
    )


#: Default weights for `quality_classifier` — integer milli-logits so the
#: decision boundary (z >= 0) is EXACT integer arithmetic in any engine.
#: Shaped like the public-corpus heuristics (C4/CCNet/Gopher rules): longer
#: documents with natural stopword density score up, digit-heavy text
#: scores down.  In production these would come from a logistic regression
#: trained offline on labeled docs — training is out-of-engine (like the
#: fastText quality filters used for LLaMA/CCNet data), SCORING is the
#: engine's map-side job.
CLASSIFIER_WEIGHTS = {
    "bias": -2000,
    "stop_permille": 8,
    "digit_permille": -6,
    "n_tokens_capped": 20,  # n_tokens clamped at 100: length saturates
}


def quality_classifier(
    docs: DataFrame,
    weights: "dict[str, int] | None" = None,
    text_col: str = "text",
) -> DataFrame:
    """Model-based quality scoring: a logistic classifier over the
    `_quality_cols` features, the learned-filter tier ABOVE the rule
    score of `quality_scores` (real pipelines run both: cheap rules
    first, a trained classifier on the survivors).

    Float discipline: the logit z is computed entirely in INTEGER
    milli-units (weights x per-mille features), so the keep/drop label
    compares `z_milli >= 0` exactly — no float threshold can flip a
    label between engines.  Only the reported probability touches
    doubles (sigmoid, rounded 6 dp).  Pure map-side expressions: no
    shuffle, no UDF, scores 100 TB at scan speed.

    Returns (doc_id, z_milli, quality_prob, keep)."""
    w = dict(CLASSIFIER_WEIGHTS)
    if weights:
        unknown = set(weights) - set(w)
        if unknown:
            # a typoed weight key would silently leave the real weight
            # at its default — the caller believes the model changed
            raise ValueError(
                f"quality_classifier: unknown weight keys {sorted(unknown)}"
                f" (known: {sorted(w)})"
            )
        w.update(weights)
    cols = _quality_cols(text_col)
    z = (
        F.lit(int(w["bias"]))
        + F.lit(int(w["stop_permille"])) * cols["stop_permille"]
        + F.lit(int(w["digit_permille"])) * cols["digit_permille"]
        + F.lit(int(w["n_tokens_capped"]))
        * F.least(cols["n_tokens"], F.lit(100))
    ).cast("long")
    return spread(docs).select(
        "doc_id",
        z.alias("z_milli"),
        F.round(
            F.lit(1.0) / (F.lit(1.0) + F.exp(-z.cast("double") / F.lit(1000.0))),
            6,
        ).alias("quality_prob"),
        (z >= 0).cast("long").alias("keep"),
    )


def token_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """BPE-ish token counting via regex pre-tokenization."""
    return spread(docs).select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_RE), 0))
        .cast("long")
        .alias("n_tokens_bpe"),
        F.size(F.split(F.col(text_col), r"\s+")).cast("long").alias("n_tokens_ws"),
    )


def document_fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Normalized content fingerprint: lowercase, strip non-alphanumerics,
    md5 → first 16 hex chars. The cheap key for cross-corpus dedup."""
    normalized = F.lower(
        F.regexp_replace(F.col(text_col), r"[^a-zA-Z0-9 ]", "")
    )
    return spread(docs).select(
        "doc_id",
        F.substring(F.md5(normalized), 1, 16).alias("fingerprint"),
    )


def winnowing_fingerprints(
    docs: DataFrame,
    k: int = 8,
    window: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    algorithm): hash every character k-gram, slide a window of `window`
    consecutive positions, keep each window's minimum hash — the selected
    set is position-robust (guaranteed to share fingerprints with any copy
    of length ≥ k + window − 1), which whole-document hashing (the q23
    fingerprint) is not.

    "Rolling hash" names the O(1)-per-position incremental trick; the
    SELECTION is the semantics, and computing each k-gram hash directly
    (md5 — engine-portable) gives the identical fingerprint set. The hash
    is the first 15 md5 hex chars as a 60-bit LONG (Spark conv == DuckDB
    '0x…'::BIGINT): integer fingerprints keep every downstream aggregate
    (per-doc min/count, cross-doc matching) in hash aggregation — a
    var-length string min would fall back to SortAggregate — and the
    window-min selection compares longs instead of strings.

    Plan: entirely map-side array HOFs — per doc, transform(sequence) builds
    the gram-hash array, a second transform takes each window's array_min,
    array_distinct dedups, explode emits. ZERO shuffles: the per-position
    rows never leave their partition, where the rejected alternative
    (posexplode → per-doc window min) pays a full sort+exchange of every
    gram row (measured 4.1 s vs 0.97 s at sf0.1; DuckDB's own window plan
    does it in 1.0 s). A document is one array element chain, so skew =
    longest single document — bounded by doc length, not corpus."""
    n = F.length(F.col(text_col))
    grams = F.transform(
        F.sequence(F.lit(1), n - k + 1),
        lambda i: F.conv(
            F.substring(
                F.md5(F.substr(F.col(text_col), i, F.lit(k))), 1, 15
            ),
            16,
            10,
        ).cast("long"),
    )
    per_doc = spread(docs).filter(n >= k + window - 1).select(
        F.col(id_col), grams.alias("_grams")
    )
    fps = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("_grams") - (window - 1)),
            lambda j: F.array_min(F.slice(F.col("_grams"), j, window)),
        )
    )
    return per_doc.select(
        F.col(id_col), F.explode(fps).alias("fingerprint")
    )


def repetition_stats(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Gopher-style repetition statistics per document — the prefilter a
    pretraining pipeline runs before any expensive dedup: documents
    dominated by one token or by repeated 2-grams are machine-generated
    boilerplate and get dropped early.

    Emits integer numerators/denominators (not ratios): cross-engine float
    division is avoided, and the keep-rule (`4*max_word_count <= n_words`
    — "no single word above 25%"; `5*dup_2grams <= n_2grams` — "under 20%
    duplicate 2-grams") stays exact integer arithmetic.

    Shape: one explode per statistic family over the spread() corpus, all
    JVM built-ins; the per-doc groupBys shuffle (doc, token) pairs —
    bounded by corpus token count, the same budget any tokenizing pass
    pays."""
    d = spread(docs)
    wc = (
        d.select(F.col(id_col), F.explode(_words(text_col)).alias("w"))
        .groupBy(id_col, "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(
            F.sum("c").alias("n_words"),
            F.count(F.lit(1)).alias("n_distinct_words"),
            F.max("c").alias("max_word_count"),
        )
    )
    base = d.select(F.col(id_col), _words(text_col).alias("words"))
    ex = base.select(
        F.col(id_col), F.col("words"),
        F.posexplode("words").alias("pos", "w0"),
    ).where(F.col("pos") < F.size("words") - 1)
    two = ex.select(
        F.col(id_col),
        F.concat_ws(
            " ", F.col("w0"), F.expr("element_at(words, pos + 2)")
        ).alias("g"),
    )
    gc = two.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_2grams"),
        F.countDistinct("g").alias("n_distinct_2grams"),
    )
    out = wc.join(gc, id_col, "left")
    dup2 = F.col("n_2grams") - F.col("n_distinct_2grams")
    return out.select(
        id_col,
        "n_words",
        "n_distinct_words",
        "max_word_count",
        F.coalesce("n_2grams", F.lit(0)).alias("n_2grams"),
        F.coalesce("n_distinct_2grams", F.lit(0)).alias("n_distinct_2grams"),
        (
            (F.lit(4) * F.col("max_word_count") <= F.col("n_words"))
            & (F.lit(5) * F.coalesce(dup2, F.lit(0))
               <= F.coalesce("n_2grams", F.lit(0)))
        ).cast("int").alias("keep"),
    )


def boilerplate_ngram_stats(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    n: int = 5, min_docs: int = 10, plan: str = "join",
    adaptive_broadcast_rows: int = 200_000,
) -> DataFrame:
    """Cross-document boilerplate detection: a word n-gram appearing in ≥
    `min_docs` DISTINCT documents is boilerplate (headers, footers,
    licenses, templates); per document, report how much of its distinct
    n-gram mass is boilerplate. The C4/RefinedWeb-style line-dedup analog
    for corpora without line structure.

    Scale shape (plan='join', the default): (doc, gram) pairs dedup in one
    shuffle; gram→doc-count is a second; the per-doc rollup joins gram
    frequencies back — all keyed on the gram, so hot boilerplate grams
    are exactly the AQE-skew case the engine already handles (session
    defaults in session.py).

    plan='broadcast_mark' exploits that the JOIN only needs the
    *boilerplate* gram types (freq >= min_docs), a tiny, selective subset
    of the gram dimension: filter the frequency table down to those
    types, broadcast it, and LEFT-mark the occurrence stream — the
    occurrence-scale rows then cross only the uniform doc-keyed rollup
    exchange, never a gram-keyed join (the q106 de-skew discipline).
    The catch at 100 TB: with a low min_docs over natural text the
    boilerplate-type set itself can outgrow a broadcast (common phrases
    clear any small threshold), and the gram subtree is evaluated twice
    (freq + mark) — identical exchange subtrees, so the runtime gets to
    reuse the dedup shuffle (the PPJoin shared-stage shape). Measured at
    1M Zipf docs both effects net out (SCALE.md); 'join' stays the
    default because its memory envelope is unconditional.

    plan='adaptive' (r6 verdict ask #7) spends one extra bounded job — a
    1-row COUNT of the boilerplate-type set — and picks 'broadcast_mark'
    when that set fits `adaptive_broadcast_rows` (the measured 16% win
    at 1M Zipf), else 'join' (the unconditional envelope).  The count
    job recomputes the gram subtree (cross-JOB shuffle reuse does not
    exist), so adaptive pays ~one gram pass to buy the right plan — a
    good trade exactly when the corpus is large enough for the 16% to
    dominate, which is also when the decision matters."""
    from noaa_oracle_spark.pipeline.dedup import _word_shingles

    grams = _word_shingles(docs, text_col=text_col, id_col=id_col, n=n)
    # _word_shingles emits DISTINCT (doc, gram) pairs, so a plain count is
    # the distinct-doc count — without countDistinct's two-phase expand.
    freq = grams.groupBy("shingle").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    if plan == "adaptive":
        n_boiler_types = (
            freq.filter(F.col("n_docs") >= F.lit(min_docs)).count()
        )  # 1-row job, bounded by construction
        plan = (
            "broadcast_mark"
            if n_boiler_types <= adaptive_broadcast_rows
            else "join"
        )
    if plan == "broadcast_mark":
        boiler = freq.filter(F.col("n_docs") >= F.lit(min_docs)).select(
            "shingle", F.lit(1).alias("_b")
        )
        return (
            grams.join(F.broadcast(boiler), "shingle", "left")
            .groupBy(id_col)
            .agg(
                F.count(F.lit(1)).alias("n_grams"),
                F.sum(
                    F.col("_b").isNotNull().cast("long")
                ).alias("n_boilerplate"),
            )
        )
    if plan != "join":
        raise ValueError(f"boilerplate_ngram_stats: unknown plan {plan!r}")
    per_doc = (
        grams.join(freq, "shingle")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                (F.col("n_docs") >= F.lit(min_docs)).cast("long")
            ).alias("n_boilerplate"),
        )
    )
    return per_doc


def exact_substring_spans(
    docs: DataFrame,
    min_len: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram_plan: str = "shuffle_reuse",
) -> DataFrame:
    """Exact duplicated-substring removal at CHARACTER level — the
    suffix-array dedup of "Deduplicating Training Data Makes Language
    Models Better" (Lee et al. 2021), re-expressed as a gram join: every
    character `min_len`-gram that occurs more than once corpus-wide
    (counting occurrences, so in-document repetition counts — same rule
    as span_dedup) marks its span duplicated; per document, overlapping
    marked spans merge into maximal intervals which are then cut out.

    Returns (id, n_dup_spans, dup_chars, clean_text) for EVERY document;
    clean_text is the concatenation of the uncovered remainder (equal to
    the input when nothing matched, empty when fully covered).

    Equivalence to the suffix-array formulation: a duplicated substring of
    length ≥ min_len is exactly a run of ≥ 1 duplicated min_len-grams, and
    the union of their [p, p+min_len) windows is the full duplicated span
    — so the merged intervals here equal the suffix-array tool's spans
    (that tool removes every occurrence; so does this).

    Plan shape: the gram stream carries (doc, pos, 60-bit md5-prefix hash)
    — never gram text — through ONE corpus-wide hash-keyed count and one
    doc-keyed rollup; interval merging and span cutting are per-row array
    folds (aggregate over the sorted position list), no per-character
    explosion anywhere. The 60-bit integer keys keep both shuffles in
    hash aggregation (the winnowing discipline).

    The gram stream is consumed twice (under the frequency aggregate and
    on the candidate side). `gram_plan` picks how the second consumption
    is served — all three produce identical output, measured head-to-head
    at 100k and 1M docs (SCALE.md §4):

    - "shuffle_reuse" (default): hash-repartition the gram stream on `h`
      so both consumers read ONE materialized exchange — generation runs
      once. 1M docs: 413.9 s vs recompute's 525.9 s (21% faster; 100k:
      29.2 vs 38.0 s). The shuffle-volume ledger favors it at cluster
      scale too: the count's partial agg barely compresses a
      mostly-unique gram stream (its (h, cnt) shuffle ≈ the full
      stream), so the repartition shuffles comparable bytes while
      halving the md5-generation CPU.
    - "recompute": generate the grams twice — nothing extra stored;
      the round-3 shape, kept as the measured baseline.
    - "persist": MEMORY_AND_DISK-cache the slim (doc, off, h) stream
      between passes (1M: 493.3 s — the cache write beats recompute but
      loses to exchange reuse, and the caller owns the lifecycle via
      spark.catalog.clearCache()). Under the engine's default 8 GB local
      heap the 770M-row cache is also what OOMs first — the measured
      failure mode behind bench_pipeline's executor-memory note.
    """
    if gram_plan not in ("recompute", "persist", "shuffle_reuse"):
        raise ValueError(f"unknown gram_plan {gram_plan!r}")
    L = min_len
    n = F.length(F.col(text_col))

    def gram_hash(s: Column) -> Column:
        return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")

    grams = spread(docs).filter(n >= L).select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), n - L + 1),
                lambda i: gram_hash(F.substr(F.col(text_col), i, F.lit(L))),
            )
        ).alias("off", "h"),
    )
    if gram_plan == "persist":
        grams = grams.persist()
    elif gram_plan == "shuffle_reuse":
        grams = grams.repartition("h")
    dup_hashes = (
        grams.groupBy("h")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 1)
        .select("h")
    )
    positions = (
        grams.join(dup_hashes, "h")
        .select(F.col(id_col), (F.col("off") + 1).alias("p"))
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("p")).alias("ps"))
    )
    # merge sorted [p, p+L) windows into maximal disjoint spans
    empty_spans = F.array().cast("array<struct<s:long,e:long>>")
    spans = F.aggregate(
        F.col("ps"),
        empty_spans,
        lambda acc, p: F.when(
            (F.size(acc) == 0) | (p > F.element_at(acc, -1)["e"]),
            F.concat(
                acc,
                F.array(
                    F.struct(p.alias("s"), (p + F.lit(L)).alias("e"))
                ),
            ),
        ).otherwise(
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.element_at(acc, -1)["s"].alias("s"),
                        F.greatest(
                            F.element_at(acc, -1)["e"], p + F.lit(L)
                        ).alias("e"),
                    )
                ),
            )
        ),
    )
    with_spans = (
        docs.select(id_col, text_col)
        .join(positions, id_col, "left")
        .select(
            F.col(id_col),
            F.col(text_col),
            F.coalesce(
                F.when(F.col("ps").isNotNull(), spans), empty_spans
            ).alias("spans"),
        )
    )
    # cut the spans out with a cursor fold over the ORIGINAL text
    cut = F.aggregate(
        F.col("spans"),
        F.struct(
            F.lit(1).cast("long").alias("cur"), F.lit("").alias("out")
        ),
        lambda acc, sp: F.struct(
            sp["e"].alias("cur"),
            F.concat(
                acc["out"],
                F.substr(
                    F.col(text_col), acc["cur"], sp["s"] - acc["cur"]
                ),
            ).alias("out"),
        ),
        lambda acc: F.concat(
            acc["out"],
            F.substr(
                F.col(text_col),
                acc["cur"],
                F.length(F.col(text_col)) - acc["cur"] + 1,
            ),
        ),
    )
    return with_spans.select(
        F.col(id_col),
        F.size("spans").cast("long").alias("n_dup_spans"),
        F.aggregate(
            F.col("spans"),
            F.lit(0).cast("long"),
            lambda acc, sp: acc + sp["e"] - sp["s"],
        ).alias("dup_chars"),
        cut.alias("clean_text"),
    )


#: PII patterns, deliberately restricted to syntax both Java regex and
#: RE2-family engines (DuckDB) execute identically: no lookarounds, no
#: backreferences, \b word boundaries only.
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("card", r"\b\d{16}\b", "<CARD>"),
]


def redact_pii(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """PII scrubbing — the redaction pass every public-web training
    corpus runs before the tokenizer sees a byte: emails, IPv4
    addresses, and 16-digit card-like numbers replaced with typed
    placeholder tokens, with per-category match counts for the
    compliance ledger.

    The patterns CASCADE (email → ip → card), each category counted on
    the text as the previous replacements left it — a fixed evaluation
    order both engines reproduce exactly, so counts are unambiguous
    even when patterns could overlap. Pure map-side regexp expressions
    (codegen'd, zero shuffle, linear scan); the pattern syntax is
    restricted to the Java-regex ∩ RE2 common subset so a DuckDB
    oracle executes the same matches.

    Returns (doc_id, n_email, n_ip, n_card, clean_text)."""
    from noaa_oracle_spark.pipeline.dedup import spread

    cur = F.col(text_col)
    counts = {}
    for name, pat, token in PII_PATTERNS:
        counts[f"n_{name}"] = (
            F.size(F.regexp_extract_all(cur, F.lit(pat), 0)).cast("long")
        )
        cur = F.regexp_replace(cur, pat, token)
    return spread(docs).select(
        "doc_id",
        *[c.alias(n) for n, c in counts.items()],
        cur.alias("clean_text"),
    )


def decontamination(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_bench: bool = True,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any word
    n-gram with an evaluation/benchmark set — the GPT-3/PaLM-style overlap
    check every serious pretraining pipeline runs before training.

    Returns (id, shared_grams, total_grams) for every training document
    with ≥1 shared n-gram; the caller drops or audits them.

    Scale shape: the benchmark gram set is usually tiny relative to a
    100 TB corpus (eval suites are MBs), so by default it is DISTINCT-ed
    and broadcast — the corpus-side gram stream joins map-side with no
    shuffle of the big side; the per-doc rollup is the only wide
    operator, keyed on doc id (uniform). For a benchmark set too large
    for executor memory (a union of hundreds of eval suites), pass
    ``broadcast_bench=False``: the join shuffles on the gram hash instead
    — same exact result, one extra exchange, no memory ceiling.

    ONE corpus pass (r12 optimization round, guide §1.2/§2.4): the old
    shape evaluated the tokenize+explode gram stream twice — a totals
    aggregate AND an inner join + shared aggregate.  A LEFT join against
    the DISTINCT benchmark grams (at most one match per gram row, so
    row counts are preserved) lets one groupBy compute both counts —
    total_grams = count(*), shared_grams = count of matched rows — and
    the `shared_grams > 0` filter reproduces the inner join's row set
    exactly.  At 100 TB this halves the corpus-gram passes and drops a
    corpus-keyed shuffle; equality is pinned by
    tests/test_decontamination_bloom.py and the q77 oracle."""
    from noaa_oracle_spark.pipeline.dedup import _word_shingles

    train = _word_shingles(docs, text_col=text_col, id_col=id_col, n=n)
    bench = (
        _word_shingles(benchmark, text_col=text_col, id_col=id_col, n=n)
        .select("shingle")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    bench_side = F.broadcast(bench) if broadcast_bench else bench
    return (
        train.join(bench_side, "shingle", "left")
        .groupBy(id_col)
        .agg(
            F.count("_hit").alias("shared_grams"),
            F.count(F.lit(1)).alias("total_grams"),
        )
        .filter(F.col("shared_grams") > 0)
        .select(id_col, "shared_grams", "total_grams")
    )


def decontamination_bloom(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    m_bits: int = 1 << 20,
    k_hashes: int = 3,
) -> DataFrame:
    """Bloom-prefiltered decontamination — exact same output as
    `decontamination`, for the regime where the DISTINCT benchmark gram set
    is too large to broadcast as strings but the corpus-gram shuffle is the
    cost driver (`broadcast_bench=False`'s one extra exchange of the ENTIRE
    corpus gram stream).

    A bloom filter over the benchmark grams is built as a 1-ROW BITMAP
    AGGREGATE — `bit_or(1 << pos%64)` grouped by word index, folded into a
    map — and ridden to every task as a broadcast crossJoin (the same
    lazy no-driver-collect trick as tfidf's N). m_bits=2^20 is 128 KB
    regardless of benchmark size; at 10 bits/element that's calibrated for
    ~100k grams, so size it ~10× the expected distinct-gram count. Corpus
    grams test k hash positions map-side and only survivors (true matches
    + the bloom's false positives) enter the shuffle join with the
    benchmark grams, which kills the false positives — exactness never
    depends on the filter, only the shuffle volume does.

    Everything is built-in expressions (xxhash64 / pmod / shiftleft /
    bit_or / map lookup) — codegen'd end to end; no UDF, no collect.

    Deliberately TWO corpus passes (re-examined in the r12 optimization
    round): a totals-only-for-flagged-docs restructure (re-tokenize the
    docs that survive the shared join) REFERENCES the shared aggregate
    twice, and without a materialization barrier Spark duplicates the
    whole bloom-candidate subtree per reference — measured 2.23 → 3.10 s
    at sf0.1 (plan Exchange mentions 30 → 54).  A persist would fix the
    duplication but leaks cache across the suite's run-twice protocol
    (the q68 lesson).  The clean two-pass shape — one bloom-filtered
    candidate pass, one plain totals aggregate — stays."""
    from noaa_oracle_spark.pipeline.dedup import _word_shingles

    train = _word_shingles(docs, text_col=text_col, id_col=id_col, n=n)
    bench = (
        _word_shingles(benchmark, text_col=text_col, id_col=id_col, n=n)
        .select("shingle")
        .distinct()
    )
    totals = train.groupBy(id_col).agg(F.count(F.lit(1)).alias("total_grams"))
    candidates = bloom_gram_filter(
        train, bench, m_bits=m_bits, k_hashes=k_hashes
    ).select(id_col, "shingle")
    shared = (
        candidates.join(bench, "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("shared_grams"))
    )
    return shared.join(totals, id_col).select(
        id_col, "shared_grams", "total_grams"
    )


def _bloom_positions(key: Column, m_bits: int, k_hashes: int) -> list[Column]:
    # k independent hash positions: xxhash64 with a distinct literal
    # prefix per hash function
    return [
        F.pmod(
            F.xxhash64(F.concat(F.lit(f"bloom{i}|"), key)),
            F.lit(m_bits),
        )
        for i in range(k_hashes)
    ]


def bloom_bitmap(
    keys: DataFrame, key_col: str, m_bits: int, k_hashes: int
) -> DataFrame:
    """1-row bloom bitmap over `keys[key_col]`: a (word index -> 64-bit
    word) map built with `bit_or(1 << pos%64)` grouped by word index —
    at most m_bits/64 keys, tiny and uniform regardless of input size.
    Broadcast-crossJoin it to ride the filter to every task with no
    driver collect (the decontamination_bloom trick, shared with the
    crawl seen-set prefilter)."""
    return (
        keys.select(
            F.explode(
                F.array(*_bloom_positions(F.col(key_col), m_bits, k_hashes))
            ).alias("pos")
        )
        .select(
            (F.col("pos") / 64).cast("long").alias("word"),
            F.call_function(
                "shiftleft",
                F.lit(1).cast("long"),
                F.pmod(F.col("pos"), 64).cast("int"),
            ).alias("bit"),
        )
        .groupBy("word")
        .agg(F.bit_or("bit").alias("bits"))
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("word", "bits"))
            ).alias("_bloom")
        )
    )


def bloom_might_contain(key: Column, m_bits: int, k_hashes: int) -> Column:
    """Membership test against the crossJoined `_bloom` map column —
    true for every inserted key plus the false-positive fraction;
    false is EXACT (the property every caller's correctness rests on)."""
    tests = [
        (
            F.coalesce(
                F.element_at(F.col("_bloom"), (p / 64).cast("long")),
                F.lit(0).cast("long"),
            ).bitwiseAND(
                F.call_function(
                    "shiftleft",
                    F.lit(1).cast("long"),
                    F.pmod(p, 64).cast("int"),
                )
            )
            != 0
        )
        for p in _bloom_positions(key, m_bits, k_hashes)
    ]
    out = tests[0]
    for t in tests[1:]:
        out = out & t
    return out


def bloom_gram_filter(
    grams: DataFrame,
    bench_grams: DataFrame,
    m_bits: int = 1 << 20,
    k_hashes: int = 3,
    gram_col: str = "shingle",
) -> DataFrame:
    """Map-side bloom prefilter: rows of `grams` whose `gram_col` MIGHT be
    in `bench_grams` (false positives pass; negatives are exact). The
    shuffle-volume lever of `decontamination_bloom`, exposed so callers
    (and bench_pipeline) can measure the surviving candidate stream
    directly. Returns the input rows minus a temporary `_bloom` column."""
    bitmap = bloom_bitmap(bench_grams, gram_col, m_bits, k_hashes)
    return (
        grams.crossJoin(F.broadcast(bitmap))
        .filter(bloom_might_contain(F.col(gram_col), m_bits, k_hashes))
        .drop("_bloom")
    )


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k terms per document by tf-idf (tf × ln(N/df)), the baseline
    keyword/feature extractor. Ranking compares the 6-dp-rounded score
    (the suite's cross-engine float convention, cf. q20 cosine) with the
    term string as total tiebreak, so the cut is deterministic on both
    engines even for distinct (tf, df) pairs that land on equal scores
    (2·ln(N/a) = ln(N/b) has integer solutions).

    Scale shape: tf is one shuffle on (doc, term); df reuses the tf rows
    (already distinct per doc-term) with a term-keyed count; N rides in as
    a broadcast 1-row aggregate instead of a driver-side collect, keeping
    the whole plan lazy."""
    from pyspark.sql.window import Window

    words = spread(docs).select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("term"),
    ).filter(F.col("term") != "")
    tf = words.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            F.col("term"),
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(id_col, "term", "tfidf", "rnk")
    )


def span_dedup(
    docs: DataFrame,
    span_words: int = 4,
    max_freq: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Span-level (paragraph-style) dedup with reassembly: cut each doc
    into fixed-width word spans, drop every span whose exact text has more
    than `max_freq` OCCURRENCES corpus-wide (a span repeated twice inside
    one document counts twice — repetition inside a document is exactly
    the boilerplate signal this filter targets), and stitch the
    survivors back in order — the CCNet/RefinedWeb-style sub-document
    dedup that strips boilerplate while keeping the unique remainder of
    each document.

    Returns (id, n_spans, n_kept, clean_text).

    Scale shape: two shuffles — a span-keyed count (uniform by span text)
    and the per-doc reassembly (uniform by doc id). The frequency join is
    1 row per distinct span against its occurrences, so a viral
    boilerplate span makes one hot key; AQE's skew-join split handles it
    (or pre-salt with operators.skew for pathological corpora). The
    reassembly sort is per-doc (array_sort over that doc's few spans),
    never a global sort."""
    words = F.split(F.col(text_col), " ")
    n_spans = F.ceil(F.size(words) / F.lit(span_words)).cast("int")
    spans = spread(docs).select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_spans - 1),
                lambda i: F.array_join(
                    F.slice(words, i * span_words + 1, span_words), " "
                ),
            )
        ).alias("span_idx", "span"),
    )
    freq = spans.groupBy("span").agg(F.count(F.lit(1)).alias("span_freq"))
    keep = F.col("span_freq") <= max_freq
    return (
        spans.join(freq, "span")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.count(F.when(keep, F.lit(1))).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(keep, F.struct("span_idx", "span"))
                        )
                    ),
                    lambda s: s["span"],
                ),
                " ",
            ).alias("clean_text"),
        )
    )


def unigram_logprob(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    unigram distribution — the SQL-expressible tier of perplexity-based
    quality filtering (KenLM-style scoring filters on exactly this signal;
    higher-order LMs need an external model, the unigram ladder rung does
    not). Documents of rare words score low; repetitive common-word
    documents score high.

    Every corpus token has count ≥ 1 by construction, so no smoothing
    term is needed and ln() never sees zero.

    Scale shape: one (doc, term)-keyed explode feeding a term-keyed count
    join — both uniform; the corpus total rides along as a broadcast
    1-row aggregate (same pattern as tfidf_top_terms), keeping the plan
    fully lazy. Log floats follow the suite's 6-dp rounding convention."""
    words = spread(docs).select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("term"),
    ).filter(F.col("term") != "")
    counts = words.groupBy("term").agg(F.count(F.lit(1)).alias("tc"))
    total = words.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        words.join(counts, "term")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.avg(F.log(F.col("tc") / F.col("n_total"))), 6
            ).alias("logprob"),
        )
    )


def bigram_logprob(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document mean INTERPOLATED bigram log-probability under the
    corpus's own counts — one rung above `unigram_logprob` on the
    perplexity-filter ladder (CCNet-style quality filtering scores with
    exactly this family; higher orders need an external KenLM, the
    corpus-trained bigram does not):

        p(w2 | w1) = 0.7 · C(w1 w2)/C(w1)  +  0.3 · C(w2)/N

    The 0.3 unigram back-off means unseen-in-context words never zero
    the product, the standard Jelinek-Mercer fix, with fixed literal
    weights so both engines evaluate identical float expressions.

    Scale shape (skew-hardened): the bigram stream is one
    array-transform explode (no self-join on positions), immediately
    pre-aggregated to (doc, w1, w2, n_occ) — hot bigrams ("of the" at
    web scale) then shuffle once per DOCUMENT instead of once per
    occurrence, and the (doc, w1, w2) key is uniform because doc_id
    spreads the hot bigram across reducers. All count arithmetic —
    bigram counts, both unigram joins, the broadcast corpus total, and
    the log itself — happens on the DISTINCT-bigram dim (one row per
    bigram TYPE, skew-free by construction), so the doc-side stream
    crosses exactly ONE (w1, w2) shuffle to pick up its precomputed
    log-probability, not three. The per-doc mean is the n_occ-weighted
    sum — identical math, and the 6-dp rounding convention absorbs the
    summation-grouping float noise (same rule as every other suite
    float). Documents with <2 tokens have no bigrams and are ABSENT
    from the output (callers left-join, the band_verdicts convention).
    Returns (id, n_bigrams, logprob) with logprob rounded at 6 dp."""
    arr = F.filter(
        F.split(F.col(text_col), " "), lambda x: x != ""
    )
    pairs = F.when(
        F.size(arr) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(arr) - 1),
            lambda i: F.struct(
                F.element_at(arr, i).alias("w1"),
                F.element_at(arr, i + 1).alias("w2"),
            ),
        ),
    )
    grams = (
        spread(docs)
        .select(F.col(id_col), F.explode(pairs).alias("g"))
        .select(id_col, F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2"))
    )
    words = spread(docs).select(
        F.explode(
            F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
        ).alias("term")
    )
    uni = words.groupBy("term").agg(F.count(F.lit(1)).alias("tc"))
    total = words.agg(F.count(F.lit(1)).alias("n_total"))
    # per-doc pre-aggregation: the de-skew lever (see docstring)
    doc_grams = grams.groupBy(id_col, "w1", "w2").agg(
        F.count(F.lit(1)).alias("n_occ")
    )
    # big counts come straight from grams, NOT from doc_grams: Spark does
    # not reuse the doc_grams exchange across the two consumers (the q68
    # lesson, measured), and grams → groupBy(w1, w2) map-side-combines to
    # bigram TYPES before its shuffle — strictly cheaper than re-shuffling
    # the doc-level gram stream a second time.
    big = grams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("bc"))
    p = (
        F.lit(0.7) * (F.col("bc") / F.col("tc1"))
        + F.lit(0.3) * (F.col("tc2") / F.col("n_total"))
    )
    # log-probability computed ONCE per bigram type on the skew-free dim
    gram_lp = (
        big.join(uni.select(F.col("term").alias("w1"),
                            F.col("tc").alias("tc1")), "w1")
        .join(uni.select(F.col("term").alias("w2"),
                         F.col("tc").alias("tc2")), "w2")
        .crossJoin(F.broadcast(total))
        .select("w1", "w2", F.log(p).alias("lp"))
    )
    return (
        doc_grams.join(gram_lp, ["w1", "w2"])
        .groupBy(id_col)
        .agg(
            F.sum("n_occ").alias("n_bigrams"),
            F.round(
                F.sum(F.col("n_occ") * F.col("lp")) / F.sum("n_occ"), 6
            ).alias("logprob"),
        )
    )


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 128,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cut each document into fixed-width training windows of
    `chunk_tokens` whitespace tokens with `overlap` tokens of context
    carried between consecutive chunks — the pack-into-sequences step
    between a cleaned corpus and a tokenizer sharding job.

    Chunk starts advance by stride = chunk_tokens − overlap; the last
    chunk is the remainder (never discarded — short tails are the
    trainer's padding problem, not the pipeline's data-loss problem).

    Returns (id, chunk_idx, n_chunk_tokens, chunk_text).

    Scale shape: a pure per-row expression expansion (sequence →
    transform → posexplode) — no shuffle at all; the output rows inherit
    the input's partitioning, ready for a downstream repartition to the
    shard count. Integer-only chunk arithmetic, so the chunk boundaries
    are engine-exact."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    words = F.split(F.col(text_col), " ")
    n = F.size(words)
    # 1 chunk when n <= chunk_tokens, else 1 + ceil((n - chunk)/stride)
    n_chunks = F.when(n <= chunk_tokens, F.lit(1)).otherwise(
        F.lit(1)
        + F.floor(
            (n - F.lit(chunk_tokens) + F.lit(stride - 1)) / F.lit(stride)
        ).cast("int")
    )
    chunks = docs.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.slice(words, i * stride + 1, chunk_tokens),
            )
        ).alias("chunk_idx", "chunk_words"),
    )
    return chunks.select(
        id_col,
        "chunk_idx",
        F.size("chunk_words").alias("n_chunk_tokens"),
        F.array_join("chunk_words", " ").alias("chunk_text"),
    )


# ---------------------------------------------------------------------------
# BPE tokenizer training primitives (Sennrich, Haddow, Birch — ACL 2016).
#
# The distributed half of training a subword tokenizer on a 100 TB corpus
# is PAIR COUNTING: every merge round needs the frequency of each adjacent
# symbol pair, weighted by word frequency.  The scale discipline is the
# q106 one — collapse the occurrence stream to the WORD-TYPE dimension
# first (one uniform word-keyed exchange over the corpus), then do all
# pair math on word types (vocabulary-sized, Zipf-skew-free because a hot
# word contributes ONE type row regardless of its corpus frequency).
# The merge loop itself is driver-coordinated like pq_train's Lloyd
# rounds: each round moves one argmax row to the driver, never the data.
# ---------------------------------------------------------------------------


def word_frequencies(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(w, n_w) word-type frequencies — whitespace split, empty tokens
    dropped; the one corpus-scale exchange of the BPE pipeline."""
    return (
        docs.select(
            F.explode(F.split(F.col(text_col), r"\s+")).alias("w")
        )
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").alias("n_w"))
    )


def bpe_pair_counts(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """One BPE counting round at the character stage: adjacent character
    pairs within each word type, weighted by word frequency — returns
    (left_sym, right_sym, pair_count).  Everything past the word-type
    rollup runs at vocabulary scale; pairs explode from word TYPES, so a
    word occurring a billion times costs one type row here.  Pure column
    expressions (substring over an index sequence), SQL-oracle-able:
    gate q111."""
    wc = word_frequencies(docs, text_col)
    # substring needs a Column position — expressed in SQL lambda form
    pairs = F.when(
        F.length("w") > 1,
        F.expr(
            "transform(sequence(1, length(w) - 1), "
            "i -> struct(substring(w, i, 1) AS left_sym, "
            "substring(w, i + 1, 1) AS right_sym))"
        ),
    ).otherwise(
        F.expr(
            "CAST(array() AS "
            "array<struct<left_sym:string,right_sym:string>>)"
        )
    )
    return (
        wc.select("n_w", F.explode(pairs).alias("p"))
        .groupBy(
            F.col("p.left_sym").alias("left_sym"),
            F.col("p.right_sym").alias("right_sym"),
        )
        .agg(F.sum("n_w").alias("pair_count"))
    )


def bpe_train(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
) -> "tuple[list, DataFrame]":
    """Learn `n_merges` BPE merges: returns (merges, vocab) where
    `merges` is the ordered [(left, right), ...] list and `vocab` the
    final (w, symbols array, n_w) word-type table.

    Loop shape (the pq_train discipline): the word-type table lives
    distributed; each round counts adjacent symbol pairs (type-dim
    aggregation), collects ONLY the argmax pair (count desc, then
    (left, right) lexicographic asc — deterministic across runs), and
    applies the merge with a map-side fold over each word's symbol
    array.  No corpus-scale data ever reaches the driver.

    The symbol alphabet starts as single characters with no end-of-word
    marker (the within-word variant; markers are an orthogonal
    preprocessing choice documented here rather than hidden)."""
    import pandas as pd
    from pyspark.sql import types as T

    # split keeps a trailing empty string (limit=-1 semantics with the
    # end-of-string lookahead position) — filter it out of the alphabet
    vocab = word_frequencies(docs, text_col).select(
        "w",
        F.filter(
            F.split(F.col("w"), "(?!^)"), lambda x: x != F.lit("")
        ).alias("syms"),
        "n_w",
    )
    merges: list = []

    def apply_merge(left: str, right: str):
        schema = T.StructType(
            [
                T.StructField("w", T.StringType()),
                T.StructField("syms", T.ArrayType(T.StringType())),
                T.StructField("n_w", T.LongType()),
            ]
        )

        def kernel(batches):
            for pdf in batches:
                out_syms = []
                for syms in pdf["syms"]:
                    s = list(syms)
                    merged = []
                    i = 0
                    while i < len(s):
                        if (
                            i + 1 < len(s)
                            and s[i] == left
                            and s[i + 1] == right
                        ):
                            merged.append(left + right)
                            i += 2
                        else:
                            merged.append(s[i])
                            i += 1
                    out_syms.append(merged)
                yield pd.DataFrame(
                    {
                        "w": pdf["w"],
                        "syms": out_syms,
                        "n_w": pdf["n_w"],
                    }
                )

        return kernel, schema

    for _ in range(n_merges):
        pair_counts = (
            vocab.select(
                "n_w",
                F.explode(
                    F.when(
                        F.size("syms") > 1,
                        F.expr(
                            "transform(sequence(1, size(syms) - 1), "
                            "i -> struct(syms[i - 1] AS l, syms[i] AS r))"
                        ),
                    ).otherwise(
                        F.expr(
                            "CAST(array() AS "
                            "array<struct<l:string,r:string>>)"
                        )
                    )
                ).alias("p"),
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("n_w").alias("c"))
            .orderBy(F.desc("c"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not pair_counts:
            break
        top = pair_counts[0]
        merges.append((top["l"], top["r"]))
        kernel, schema = apply_merge(top["l"], top["r"])
        # localCheckpoint truncates the growing per-round lineage (the
        # connected-components discipline); swap for checkpoint() on a
        # real cluster
        vocab = vocab.mapInPandas(kernel, schema).localCheckpoint()
    return merges, vocab


def bpe_apply(
    docs: DataFrame,
    merges: "list[tuple[str, str]]",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenize with a learned merge list (the inference half of BPE):
    each document's words are split to characters and the merges replay
    IN TRAINING ORDER — the Sennrich apply rule.  Map-side mapInPandas
    with a per-batch word→tokens memo (Zipf makes the memo hit rate
    high: a batch's distinct-word count is far below its token count);
    merges ride the closure (vocabulary-sized, broadcast by Spark's
    task serialization).  Returns (id, tokens, n_tokens) — the token
    stream a packing/counting stage consumes."""
    import pandas as pd
    from pyspark.sql import types as T

    ranks = {pair: i for i, pair in enumerate(merges)}
    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("tokens", T.ArrayType(T.StringType())),
            T.StructField("n_tokens", T.IntegerType()),
        ]
    )

    def encode_word(w: str, memo: dict) -> "list[str]":
        got = memo.get(w)
        if got is not None:
            return got
        syms = list(w)
        # lowest-rank (earliest-learned) merge first — the training
        # replay order, not a greedy longest-match
        while len(syms) > 1:
            best = None
            best_rank = len(ranks)
            for i in range(len(syms) - 1):
                r = ranks.get((syms[i], syms[i + 1]), None)
                if r is not None and r < best_rank:
                    best, best_rank = i, r
            if best is None:
                break
            merged = []
            i = 0
            left, right = merges[best_rank]
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == left
                    and syms[i + 1] == right
                ):
                    merged.append(left + right)
                    i += 2
                else:
                    merged.append(syms[i])
                    i += 1
            syms = merged
        memo[w] = syms
        return syms

    def kernel(batches):
        for pdf in batches:
            memo: dict = {}
            ids, toks, ns = [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                out: list = []
                for w in (text or "").split():
                    out.extend(encode_word(w, memo))
                ids.append(did)
                toks.append(out)
                ns.append(len(out))
            yield pd.DataFrame(
                {id_col: ids, "tokens": toks, "n_tokens": ns}
            )

    return docs.select(id_col, text_col).mapInPandas(kernel, schema)


def zipf_slope(docs: DataFrame, n_parts: int = 32) -> DataFrame:
    """Corpus-health metric: the OLS slope of log(freq) on log(rank)
    over word types (Zipf's law predicts ≈ −1 on natural text; heavy
    duplication or template spam bends the head, truncation the tail).
    One word-type exchange, then the scale-safe two-pass global rank
    (repartitionByRange on the rank order, within-partition row_number,
    ≤ n_parts partition counts collected and broadcast as offsets — NOT
    an empty-partition window, which would serialize a web-scale
    vocabulary through one task and is forbidden by the plan audit),
    then covar_pop/var_pop aggregates rounded at 4 dp (the cross-engine
    float rule).  Returns 1 row: (zipf_slope, n_types, mean_log_freq)."""
    ranked = ranked_word_frequencies(docs, n_parts).select(
        F.log(F.col("rank").cast("double")).alias("lx"),
        F.log(F.col("n_w").cast("double")).alias("ly"),
    )
    return ranked.agg(
        F.round(F.covar_pop("lx", "ly") / F.var_pop("lx"), 4).alias(
            "zipf_slope"
        ),
        F.count("*").alias("n_types"),
        F.round(F.avg("ly"), 4).alias("mean_log_freq"),
    )


def ranked_word_frequencies(docs: DataFrame, n_parts: int = 32) -> DataFrame:
    """(w, n_w, rank) with the global frequency rank (count desc, word
    asc) — the shared rank kernel behind zipf_slope and vocab_coverage,
    now a thin wrapper over the generalized `profile.global_rank`
    two-pass range-partition discipline (one distributed rank kernel to
    maintain, not two); see zipf_slope's docstring for why an
    empty-partition window is not an option at vocabulary scale."""
    from noaa_oracle_spark.pipeline.profile import global_rank

    return global_rank(
        word_frequencies(docs),
        [("n_w", "desc"), ("w", "asc")],
        n_parts=n_parts,
    ).select("w", "n_w", "rank")


def vocab_coverage(docs: DataFrame, top_k: int = 1000) -> DataFrame:
    """Tokenizer-budget diagnostic: what fraction of the corpus token
    stream a top-`top_k` word vocabulary covers, and the OOV rate a
    word-level model with that budget would eat.  One row:
    (vocab_size, covered_tokens, total_tokens, oov_permille) — integer
    outputs only (the cross-engine float rule: per-mille floor instead
    of a ratio)."""
    ranked = ranked_word_frequencies(docs)
    return ranked.agg(
        F.sum(F.when(F.col("rank") <= top_k, 1).otherwise(0)).alias(
            "vocab_size"
        ),
        F.sum(
            F.when(F.col("rank") <= top_k, F.col("n_w")).otherwise(0)
        ).alias("covered_tokens"),
        F.sum("n_w").alias("total_tokens"),
    ).select(
        "vocab_size",
        "covered_tokens",
        "total_tokens",
        F.floor(
            (F.col("total_tokens") - F.col("covered_tokens"))
            * 1000
            / F.col("total_tokens")
        )
        .cast("long")
        .alias("oov_permille"),
    )


def perplexity_buckets(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    labels: "tuple[str, ...]" = ("head", "middle", "tail"),
    n_parts: int = 32,
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): score every
    document with the corpus-trained LM (`unigram_logprob` — the
    SQL-expressible rung of the perplexity ladder), rank the corpus by
    score, and cut it into equal-population buckets — head (most fluent)
    / middle / tail (least).  CCNet keeps head+middle and drops or
    down-weights tail; emitting the bucket as a column leaves that
    policy to the caller.

    Bucket boundaries are POPULATION quantiles, not score thresholds, so
    the cut is stable under any monotone rescoring and the buckets are
    equal-sized by construction (±1 doc).

    Scale shape: scoring is q91's uniform explode/join; ranking is the
    two-pass range-partition `profile.global_rank` (NO empty-partition
    window, <= n_parts rows ever reach the driver); the corpus count
    rides along as a broadcast 1-row aggregate (q98 pattern).  Ordering
    is (logprob DESC, id ASC) on the 6-dp-rounded score — the suite's
    float-portability rule makes the rank, and therefore the bucket,
    engine-exact.

    Returns (id, n_tokens, logprob, ppl_bucket)."""
    from noaa_oracle_spark.pipeline.profile import global_rank

    scores = unigram_logprob(docs, text_col=text_col, id_col=id_col)
    ranked = global_rank(
        scores,
        [("logprob", "desc"), (id_col, "asc")],
        n_parts=n_parts,
        rank_col="_rank",
    )
    # the corpus count comes off global_rank's pass-1 partition counts
    # (exact by construction — the rank itself is built from the same
    # counts); the previous `scores.agg(count)` broadcast re-evaluated
    # the whole scoring subtree a THIRD time (r12 optimization round)
    total = int(ranked._global_rank_total)
    k = len(labels)
    bucket = F.floor(
        (F.col("_rank") - 1) * F.lit(float(k)) / F.lit(total)
    ).cast("int")
    return ranked.select(
        id_col,
        "n_tokens",
        "logprob",
        F.element_at(
            F.array(*[F.lit(x) for x in labels]), bucket + 1
        ).alias("ppl_bucket"),
    )


def bm25_scores(
    docs: DataFrame,
    query_terms: "list[str]",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k documents for a bag-of-words query by Okapi BM25 — the
    lexical-retrieval sibling of the vector tier (`brute_force_knn` et
    al.); real retrieval stacks run both and fuse.  Uses the Lucene
    idf form ln(1 + (N − df + 0.5)/(df + 0.5)), which is positive for
    every df, and the standard tf saturation / length normalization:

        score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·|D|/avgdl))

    Scale shape: the term explode filters to the QUERY terms map-side
    (the scan never materializes non-query terms), tf is one uniform
    (doc, term) shuffle, df comes off the tf rows at the term-type
    dimension, and N/avgdl ride in as ONE broadcast 1-row aggregate —
    no driver collect, no all-terms pass.  Scores round 6 dp with doc
    id as the total tiebreak (the suite float rule).

    Returns (doc_id, bm25, rnk) for the k best documents."""
    from pyspark.sql.window import Window

    terms = sorted({t for t in query_terms if t})
    if not terms:
        raise ValueError("bm25_scores: need at least one non-empty query term")
    words = spread(docs).select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("term"),
    ).filter(F.col("term") != "")
    tf = (
        words.filter(F.col("term").isin(*terms))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dlen = words.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    corpus = dlen.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    return _bm25_rank(tf, dlen, corpus, k=k, k1=k1, b=b, id_col=id_col)


def _bm25_rank(
    tf: DataFrame,
    dlen: DataFrame,
    corpus: DataFrame,
    k: int,
    k1: float,
    b: float,
    id_col: str,
) -> DataFrame:
    """Shared BM25 scoring tail — (doc, term, tf) + (doc, dl) + a 1-row
    (n_docs, avgdl) frame → ranked top-k.  One function so the batch
    path (`bm25_scores`) and the serve path (`bm25_query`) are
    expression-identical: same idf/saturation arithmetic, same 6-dp
    round, same id tiebreak (the post-limit rank window is the q08
    idiom — never an unpartitioned window over the corpus)."""
    from pyspark.sql.window import Window

    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    norm = F.col("tf") * F.lit(k1 + 1.0) / (
        F.col("tf")
        + F.lit(k1)
        * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(df_), "term")
        .join(dlen, id_col)
        .crossJoin(F.broadcast(corpus))
        .groupBy(id_col)
        .agg(F.round(F.sum(idf * norm), 6).alias("bm25"))
    )
    w = Window.orderBy(F.desc("bm25"), F.asc(id_col))
    return (
        scored.orderBy(F.desc("bm25"), F.asc(id_col))
        .limit(k)
        .withColumn("rnk", F.row_number().over(w))
        .select(id_col, "bm25", "rnk")
    )


#: manifest schema for the persisted BM25 index (1 row, written LAST —
#: the save_pq_index crash-consistency discipline)
_BM25_MANIFEST_SCHEMA = (
    "format_version int, n_docs long, avgdl double, "
    "n_postings long, id_col string, n_postings_files long, "
    "postings_bytes long"
)


def _bm25_tf(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """The index-build tokenize pass shared by `save_bm25_index` and
    `append_bm25_index` — ONE definition so a grown index is
    expression-identical to a fresh one: (doc, term, tf) postings."""
    words = spread(docs).select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("term"),
    ).filter(F.col("term") != "")
    return words.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))


def _dlen_of(tf: DataFrame, id_col: str) -> DataFrame:
    """Document lengths DERIVED from the tf rows (dl = Σ_terms tf —
    exactly the token count the tokenize pass would produce), so the
    index build tokenizes the corpus ONCE: doclens aggregate the
    already-written postings instead of re-exploding every document."""
    return tf.groupBy(id_col).agg(F.sum("tf").cast("long").alias("dl"))


def _bm25_finalize_manifest(spark, path: str, id_col: str) -> "tuple[int, int]":
    """Recompute the corpus stats from the on-disk components and write
    the 1-row manifest LAST — the shared crash-consistency tail of
    save / merge / append: any writer that dies before this point
    leaves a manifest whose postings count no longer matches, and
    `load_bm25_index` rejects the directory loudly.  Returns
    (n_docs, n_postings)."""
    from noaa_oracle_spark.pipeline.metaio import spark_read_component

    stats = (
        spark_read_component(spark, f"{path}/doclens")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl"))
        .collect()[0]
    )
    n_postings = spark_read_component(spark, f"{path}/postings").count()
    # avg() over zero rows is NULL — an empty corpus (e.g. an all-empty-
    # text first streaming microbatch) must still produce a loadable
    # manifest, not a TypeError (r9 advice); avgdl never divides a
    # score because an empty index has no postings to score.
    avgdl = 0.0 if stats["avgdl"] is None else float(stats["avgdl"])
    # this is the explicit full-recompute/audit tail: like the row
    # stats above, the file ledger records what is actually on disk
    _bm25_write_manifest(
        spark, path, id_col, int(stats["n_docs"]), avgdl, int(n_postings),
        _postings_ledger(spark, path),
    )
    return int(stats["n_docs"]), int(n_postings)


def _bm25_write_manifest(
    spark, path: str, id_col: str, n_docs: int, avgdl: float,
    n_postings: int, ledger: "tuple[int, int | None] | None",
) -> None:
    """The 1-row manifest write shared by the recompute tail
    (`_bm25_finalize_manifest`) and the O(new shard) arithmetic update
    in `append_bm25_index`.

    Written through `metaio` (r12 optimization round): one Hadoop-FS
    file write instead of a full Spark job per manifest — same parquet
    bytes on disk, same directory layout, zero scheduler round trips.
    The manifest is control-plane metadata; it must not ride the data
    plane.

    `ledger` is the postings FILE ledger (r13 optimization round, guide
    §1.2 — the r12 "Not yet optimized" #2 item): (file count, total
    bytes) as `_postings_ledger` reads them.  `load_bm25_index`
    validates against it with one O(1) globStatus listing and one
    content summary instead of a Spark footer-count job whose listing
    cost grows with accumulated append count; the byte total catches
    a torn re-save that happens to leave the same NUMBER of files.  The
    value is the CALLER's responsibility, because the tear-detection
    contract depends on how it is derived: writers into a FRESH
    directory (save / merge / compact / the verify recompute) record
    the on-disk count after their own writes, while `append_bm25_index`
    must record old-ledger + this-append's-delta — counting the
    directory there would silently adopt a previous tear's orphan files
    into the ledger and heal what must stay loudly broken.  None (legacy
    index whose manifest predates the ledger) keeps the row-count
    validation path at load; a byte total of None (manifest from before
    the byte ledger) keeps the count-only check."""
    from noaa_oracle_spark.pipeline.metaio import write_meta_rows

    n_files, n_bytes = ledger or (None, None)
    write_meta_rows(
        spark,
        f"{path}/manifest",
        _BM25_MANIFEST_SCHEMA,
        [(
            1, int(n_docs), float(avgdl), int(n_postings), id_col,
            None if n_files is None else int(n_files),
            None if n_bytes is None else int(n_bytes),
        )],
    )


def save_bm25_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Persist the BM25 inverted index — postings (term, doc, tf),
    document lengths, and the 1-row corpus stats — as parquet under
    `path`: the index-once/serve-many contract of the retrieval tier
    (save_pq_index's lexical sibling).  At 100 TB the tokenize +
    tf-aggregation pass over the raw corpus is the expensive step;
    queries against the SAVED index touch only the query terms'
    postings.

    Postings are hash-clustered and sorted by term, so each parquet
    row group covers a narrow term range and a query's `isin` filter
    prunes by footer min/max stats instead of scanning the corpus
    vocabulary (at cluster scale: partition the postings table by a
    term-hash bucket column and this becomes partition pruning).

    Crash consistency: the manifest is written LAST and records the
    postings row count, so an interrupted save or torn re-save fails
    loudly at `load_bm25_index` instead of serving scores computed
    against mismatched components.

    Layout: path/postings (term, <id_col>, tf), path/doclens
    (<id_col>, dl), path/manifest.

    One tokenize pass, persisted (r12 optimization round): the postings
    write materializes the tf into the cache and the doclens derive
    from the cached rows (no re-read of the just-written postings);
    the manifest stats ride the two writes as OBSERVED metrics (the
    save_pq_index economy): the postings write counts its own rows,
    the doclens write counts its rows (= n_docs — one row per
    document by construction of the groupBy) and sums dl (= the exact
    integer token total, well under 2^53, so avgdl is bit-equal to
    the recompute).  Two actions total, no separate stats job.  The
    crash contract is unchanged: the manifest is still written last,
    so a save that dies mid-way leaves an unloadable directory, never
    a wrong one."""
    from pyspark.sql import Observation

    from concurrent.futures import ThreadPoolExecutor

    spark = docs.sparkSession
    tf = _bm25_tf(docs, text_col, id_col).persist()
    try:
        obs_p, obs_d = Observation(), Observation()

        def _write_postings() -> None:
            (
                tf.repartition(F.col("term"))
                .observe(obs_p, F.count(F.lit(1)).alias("n_postings"))
                .sortWithinPartitions("term")
                .write.mode("overwrite")
                .parquet(f"{path}/postings")
            )

        def _write_doclens() -> None:
            (
                _dlen_of(tf, id_col)
                .observe(
                    obs_d,
                    F.count(F.lit(1)).alias("n_docs"),
                    F.sum("dl").alias("tokens"),
                )
                .write.mode("overwrite")
                .parquet(f"{path}/doclens")
            )

        # The two component writes are independent consumers of the one
        # cached tf into a directory nobody can load until the manifest
        # lands (written LAST) — run them as concurrent Spark jobs so
        # the doclens shuffle back-fills the postings write's tail
        # (guide §2.6, the compact_bm25_index discipline; the cache's
        # block locks serialize the single tokenize pass, after which
        # the two writes genuinely overlap).  NOTE this is safe for a
        # FRESH save only: append_bm25_index keeps its postings-before-
        # doclens order, which is load-bearing for replay recovery.
        with ThreadPoolExecutor(max_workers=2) as pool:
            fp = pool.submit(_write_postings)
            fd = pool.submit(_write_doclens)
            fp.result()
            fd.result()
        dvals = obs_d.get
        n_docs = int(dvals["n_docs"])
        tokens = int(dvals["tokens"] or 0)
        # fresh directory (mode overwrite): the ledger IS the on-disk
        # count this save just produced
        _bm25_write_manifest(
            spark, path, id_col, n_docs,
            0.0 if n_docs == 0 else tokens / n_docs,
            int(obs_p.get["n_postings"]),
            _postings_ledger(spark, path),
        )
    finally:
        tf.unpersist()


def append_bm25_index(
    spark,
    path: str,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    check_disjoint: bool = True,
    verify: bool = False,
    precomputed_tf: "DataFrame | None" = None,
    preloaded_index: "dict | None" = None,
    precomputed_stats=None,
) -> int:
    """Grow a persisted BM25 index incrementally: tokenize only the NEW
    documents (the shared `_bm25_tf` pass, so grown == fresh by
    expression identity) and file-level-append their postings and
    doclens — `append_pq_index`'s lexical twin, and the cheap inner
    loop `merge_bm25_indexes` is the compactor for.  Old shards are
    never re-tokenized or rewritten; concurrent readers keep a stable
    snapshot; the manifest — corpus stats recomputed over the merged
    doclens, postings recounted — is rewritten LAST, so an append that
    dies mid-way leaves a count mismatch `load_bm25_index` rejects.

    BM25 scores off a grown index are exactly the scores of an index
    built over the concatenated corpus: tf/dl are per-document (append
    never changes old rows), df re-derives from the postings at query
    time, and N/avgdl come from the recomputed manifest.

    Appended postings files are term-sorted within themselves, so
    per-file row-group pruning still holds; after MANY small appends
    each term's postings spread across files and the query-term filter
    must open every appended file set.  Compact with
    `compact_bm25_index` (POST /index/bm25/compact over HTTP) when the
    postings file count exceeds ~3× the fresh layout's — the measured
    1M rung (SCALE.md §13): 20 small appends grew 32 → 132 files
    (4.1× read amplification) and slowed the serve query 1.5×; one
    compaction (≈ half a rebuild's cost) restored both, and pays for
    itself within ~40 queries at that delta.

    `check_disjoint` (default on): a doc id present twice would double-
    count its length in avgdl and its tf rows in scoring; one left-semi
    join on the id key against the existing doclens.

    Validation is O(new shard) by default (r11 verdict ask #2, the
    `append_pq_index` discipline): the corpus stats update
    arithmetically from the persisted NEW tf — n_docs and n_postings
    add, and avgdl re-derives from the exact integer token total
    (recovered as round(n_docs·avgdl), exact while the corpus token
    count stays under 2^52 — ~4.5e15 tokens, comfortably past 100 TB
    of text) — instead of re-aggregating doclens and recounting
    postings across every accumulated file.  `verify=True` restores
    the full recompute.  The crash contract holds either way: an
    append that dies before the manifest leaves counts the next
    validated load rejects, and the fast path on top of a torn index
    writes a manifest still short of the on-disk rows — the tear stays
    loudly detectable, never silently healed.

    `precomputed_tf` / `preloaded_index` are the ingest-loop economy
    (the bm25_index_sink path): the sink already tokenizes the batch
    for its containment check and already holds a VALIDATED load of the
    index, so the append can reuse both instead of re-tokenizing the
    batch and re-reading the manifest every microbatch.  precomputed_tf
    MUST be `_bm25_tf(new_docs, text_col, id_col)` for the same frame —
    the grown==rebuilt equality rests on it (the sink tests pin it).
    `precomputed_stats` (r12 optimization round) extends the same
    economy to the manifest arithmetic: a Row/dict with n_postings,
    tokens, n_docs AS AGGREGATED FROM THAT SAME tf — the sink computes
    it once for its containment check and the append skips its own
    bounded aggregate (one fewer job per microbatch).

    Returns the number of documents appended."""
    # manifest + id_col sanity always validate; the accumulated-postings
    # recount is the O(index) term verify gates
    idx = (
        preloaded_index
        if preloaded_index is not None
        else load_bm25_index(spark, path, validate_postings=verify)
    )
    meta = idx["manifest"]
    if meta.id_col != id_col:
        raise ValueError(
            f"append_bm25_index: index id column {meta.id_col!r} != "
            f"{id_col!r}"
        )
    if id_col not in new_docs.columns or text_col not in new_docs.columns:
        raise ValueError(
            f"append_bm25_index: new docs need columns ({id_col!r}, "
            f"{text_col!r}); got {new_docs.columns}"
        )
    if check_disjoint:
        n_overlap = (
            idx["doclens"]
            .join(new_docs.select(id_col), id_col, "left_semi")
            .count()
        )
        if n_overlap:
            raise ValueError(
                f"append_bm25_index: {n_overlap} new ids already exist "
                f"in the index at {path} — ids must be disjoint"
            )
    # the new batch is bounded: persist its tf so the postings write and
    # the derived doclens share one tokenize pass (the save path gets
    # the same economy by re-reading its own written postings, which an
    # append cannot do — the directory already holds the old shards)
    from pyspark.sql import Observation

    tf = (
        precomputed_tf
        if precomputed_tf is not None
        else _bm25_tf(new_docs, text_col, id_col)
    ).persist()
    try:
        # the shard stats ride the two appends as OBSERVED metrics
        # (the save_bm25_index economy, r12 optimization round): the
        # postings write counts its own rows, the doclens write counts
        # its rows (= the shard's n_docs) and sums dl (= its exact
        # integer token total) — no separate stats aggregate job
        obs_p, obs_d = Observation(), Observation()
        # file-ledger arithmetic (r13): the appended manifest records
        # old-ledger + this-append's file delta — NEVER a fresh count
        # of the directory, which would adopt a previous tear's orphan
        # files and heal what must stay loudly broken (the
        # "fast path never heals" contract the tests pin)
        files_before, bytes_before = _postings_ledger(spark, path)
        (
            tf.repartition(F.col("term"))
            .observe(obs_p, F.count(F.lit(1)).alias("n_postings"))
            .sortWithinPartitions("term")
            .write.mode("append")
            .parquet(f"{path}/postings")
        )
        (
            _dlen_of(tf, id_col)
            .observe(
                obs_d,
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("dl").alias("tokens"),
            )
            .write.mode("append")
            .parquet(f"{path}/doclens")
        )
        if verify:
            n_docs, _ = _bm25_finalize_manifest(spark, path, id_col)
        else:
            # O(new shard) manifest arithmetic over the observed shard
            # stats (or the sink's precomputed ones); the old token
            # total recovers exactly from the stored average (integer
            # sum, round-trips through the double while < 2^52)
            if precomputed_stats is not None:
                new_stats = precomputed_stats
            else:
                dvals = obs_d.get
                new_stats = {
                    "n_postings": int(obs_p.get["n_postings"]),
                    "tokens": int(dvals["tokens"] or 0),
                    "n_docs": int(dvals["n_docs"]),
                }
            old_tokens = int(round(meta.n_docs * meta.avgdl))
            n_docs = int(meta.n_docs) + int(new_stats["n_docs"])
            tokens = old_tokens + int(new_stats["tokens"] or 0)
            avgdl = 0.0 if n_docs == 0 else tokens / n_docs
            old_files = getattr(meta, "n_postings_files", None)
            old_bytes = getattr(meta, "postings_bytes", None)
            ledger = None
            if old_files is not None:
                files_after, bytes_after = _postings_ledger(spark, path)
                ledger = (
                    int(old_files) + files_after - files_before,
                    None if old_bytes is None
                    else int(old_bytes) + bytes_after - bytes_before,
                )
            _bm25_write_manifest(
                spark, path, id_col, n_docs, avgdl,
                int(meta.n_postings) + int(new_stats["n_postings"]),
                ledger,
            )
    finally:
        tf.unpersist()
    return n_docs - int(meta.n_docs)


def bm25_index_exists(spark, path: str) -> bool:
    """True iff a manifest exists under `path` — the committed-index
    marker (every writer writes it LAST).  Hadoop-FS based, so it holds
    on object stores too; used by writers that must distinguish "no
    index yet" (first save is safe) from "index present but unloadable"
    (torn append — demands explicit recovery, never a silent
    overwrite)."""
    sc = spark.sparkContext
    hpath = sc._jvm.org.apache.hadoop.fs.Path(f"{path}/manifest")
    fs = hpath.getFileSystem(sc._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


def load_bm25_index(
    spark, path: str, validate_postings: bool = True
) -> "dict":
    """Reload a persisted BM25 index: {"postings", "doclens" (lazy
    DataFrames), "manifest" (Row)} — plugs directly into `bm25_query`.
    Validates the manifest's postings row count against the loaded
    component (one parquet-footer count, no data scan), so a torn
    re-save fails loudly.

    `validate_postings=False` skips that count — the one load step
    whose cost grows with accumulated append count (footer reads +
    listing over every appended file set).  Maintenance paths that end
    with their own count check use it; serve paths keep the default.

    The manifest itself loads through `metaio` (r12 optimization
    round): one Hadoop-FS read + in-process parquet decode instead of a
    Spark job per load — a missing manifest raises FileNotFoundError
    (the "missing directory" class callers like the HTTP tier map to
    BadRequest), a malformed one still raises ValueError.  The postings
    and doclens frames read with the schema taken from one data file's
    footer (`metaio.spark_read_component`), so the two per-load
    schema-inference Spark jobs disappear too."""
    from noaa_oracle_spark.pipeline.metaio import (
        read_meta_rows,
        spark_read_component,
    )

    manifest = read_meta_rows(spark, f"{path}/manifest")
    if len(manifest) != 1:
        raise ValueError(f"load_bm25_index: bad manifest at {path}")
    meta = manifest[0]
    if meta.format_version != 1:
        raise ValueError(
            "load_bm25_index: unsupported format_version "
            f"{meta.format_version}"
        )
    postings = spark_read_component(spark, f"{path}/postings")
    if validate_postings:
        # O(1) validation against the manifest's file ledger (r13
        # optimization round): every writer records the postings file
        # count it left on disk immediately before its manifest write,
        # so one globStatus listing detects the torn-append class (a
        # writer died after its postings append, before its manifest
        # rewrite → extra files the stale ledger rejects) without a
        # Spark job whose footer/listing cost grows with accumulated
        # appends.  Manifests from before the ledger (no field / NULL)
        # fall back to the original footer-count job — same raise.
        # The byte total (when recorded) also catches a torn re-save
        # that leaves the same number of files.
        n_files_expected = getattr(meta, "n_postings_files", None)
        if n_files_expected is not None:
            bytes_expected = getattr(meta, "postings_bytes", None)
            n_files, n_bytes = _postings_ledger(spark, path)
            if n_files != int(n_files_expected) or (
                bytes_expected is not None and n_bytes != int(bytes_expected)
            ):
                raise ValueError(
                    f"load_bm25_index: {n_files} postings files of "
                    f"{n_bytes} bytes != manifest ledger "
                    f"{int(n_files_expected)} files of {bytes_expected} "
                    f"bytes — torn or partial (re-)save at {path}"
                )
        else:
            n_postings = postings.count()
            if n_postings != meta.n_postings:
                raise ValueError(
                    f"load_bm25_index: postings count {n_postings} != "
                    f"manifest {meta.n_postings} — torn or partial "
                    f"(re-)save at {path}"
                )
    doclens = spark_read_component(spark, f"{path}/doclens")
    return {"postings": postings, "doclens": doclens, "manifest": meta}


def bm25_query(
    index: "dict",
    query_terms: "list[str]",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k documents for a bag-of-words query against a LOADED BM25
    index (`load_bm25_index`) — no tokenization pass, no corpus scan:
    the postings filter touches only the query terms' rows (parquet
    row-group pruning via the term-sorted layout), df re-derives from
    those same rows, and the corpus stats ride in from the manifest.
    Result-identical to `bm25_scores` over the indexed corpus (shared
    `_bm25_rank` tail; equality-tested)."""
    meta = index["manifest"]
    id_col = meta.id_col
    terms = sorted({t for t in query_terms if t})
    if not terms:
        raise ValueError("bm25_query: need at least one non-empty query term")
    tf = index["postings"].filter(F.col("term").isin(*terms))
    spark = index["postings"].sparkSession
    corpus = spark.createDataFrame(
        [(int(meta.n_docs), float(meta.avgdl))], "n_docs long, avgdl double"
    )
    return _bm25_rank(
        tf, index["doclens"], corpus, k=k, k1=k1, b=b, id_col=id_col
    )


def rrf_fuse(
    rankings: "list[DataFrame]",
    k: int = 60,
    id_col: str = "doc_id",
    rank_col: str = "rnk",
    topk: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Büttcher, SIGIR 2009) of
    N ranked result lists — the standard hybrid-retrieval combiner for
    this tier's lexical (`bm25_scores`/`bm25_query`) and vector
    (`pq_knn`/`ivfpq_rerank`) outputs: score(d) = Σ_lists 1/(k + rank_d),
    summing only over lists where d appears.  Rank-based (not
    score-based), so the incommensurable BM25 and ADC/cosine scales
    never need calibration — the reason RRF is the default fuser in
    production search stacks.

    Scale shape: inputs are top-k lists — bounded by construction, a few
    rows per query source — so the union + groupBy is broadcast-sized
    expression work; nothing here ever touches the corpus.  Scores round
    6 dp with doc-id tiebreak and the final rank uses the post-limit
    window idiom (the suite float/plan rules).

    Returns (id_col, rrf_score, rnk) for the fused top-`topk`."""
    from pyspark.sql.window import Window

    if not rankings:
        raise ValueError("rrf_fuse: need at least one ranking")
    if k <= 0:
        raise ValueError("rrf_fuse: k must be positive")
    parts = [
        df.select(
            F.col(id_col),
            (F.lit(1.0) / (F.lit(float(k)) + F.col(rank_col).cast("double"))
             ).alias("_rr"),
        )
        for df in rankings
    ]
    allp = parts[0]
    for p in parts[1:]:
        allp = allp.unionByName(p)
    fused = allp.groupBy(id_col).agg(
        F.round(F.sum("_rr"), 6).alias("rrf_score")
    )
    w = Window.orderBy(F.desc("rrf_score"), F.asc(id_col))
    return (
        fused.orderBy(F.desc("rrf_score"), F.asc(id_col))
        .limit(topk)
        .withColumn("rnk", F.row_number().over(w))
        .select(id_col, "rrf_score", "rnk")
    )


def merge_bm25_indexes(
    spark,
    paths: "list[str]",
    out_path: str,
    check_disjoint: bool = True,
) -> None:
    """Merge N persisted BM25 indexes over DISJOINT document sets into
    one index at `out_path` — incremental corpus growth without
    re-tokenizing old shards: index each arriving batch with
    `save_bm25_index`, merge.  Because (doc, term) keys are disjoint
    across shards, postings merge by plain union (no tf arithmetic) and
    doclens likewise; n_docs/avgdl recompute from the merged doclens in
    one bounded aggregate.  The result is EXACTLY the index
    `save_bm25_index` would build over the concatenated corpus
    (equality-tested), so `bm25_query` scores are identical.

    `check_disjoint` (default on) fails loudly on doc-id overlap — a
    doc present in two shards would double-count document length and
    df; pass False only when disjointness is guaranteed upstream (one
    extra self-join-shaped count otherwise)."""
    if len(paths) < 2:
        raise ValueError("merge_bm25_indexes: need at least two indexes")
    # manifests validate per shard; the per-shard postings recount is
    # skipped — the post-union output count is checked against the SUM
    # of the shard manifests below, so a torn shard still fails loudly
    # before the merged manifest exists (the compact discipline, r12)
    idxs = [
        load_bm25_index(spark, p, validate_postings=False) for p in paths
    ]
    id_cols = {i["manifest"].id_col for i in idxs}
    if len(id_cols) != 1:
        raise ValueError(
            f"merge_bm25_indexes: mixed id columns {sorted(id_cols)}"
        )
    id_col = id_cols.pop()
    doclens = idxs[0]["doclens"]
    postings = idxs[0]["postings"]
    for i in idxs[1:]:
        doclens = doclens.unionByName(i["doclens"])
        postings = postings.unionByName(i["postings"])
    if check_disjoint:
        n_total = sum(int(i["manifest"].n_docs) for i in idxs)
        n_distinct = doclens.select(id_col).distinct().count()
        if n_distinct > n_total:
            # more on-disk ids than the manifests account for: not an
            # overlap but orphan rows from an append that died before
            # its manifest write — name the real condition
            raise ValueError(
                f"merge_bm25_indexes: {n_distinct} distinct ids on disk "
                f"vs {n_total} in the shard manifests — a shard is torn "
                "(append died pre-manifest); recover it (compact or "
                "re-save) before merging"
            )
        if n_distinct != n_total:
            raise ValueError(
                "merge_bm25_indexes: document sets overlap "
                f"({n_total - n_distinct} shared ids) — shards must be "
                "disjoint"
            )
    # the torn-shard check rides the union write as an observed metric
    # (the merge_pq_indexes economy, r12 optimization round): the count
    # of rows actually read from the shards and written — a shard whose
    # files are short of its manifest yields fewer rows here, failing
    # the same check the re-read count enforced, without a second pass
    from pyspark.sql import Observation

    obs = Observation()
    (
        postings.repartition(F.col("term"))
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(f"{out_path}/postings")
    )
    doclens.write.mode("overwrite").parquet(f"{out_path}/doclens")
    n_postings = int(obs.get["n"])
    n_expected = sum(int(i["manifest"].n_postings) for i in idxs)
    if n_postings != n_expected:
        raise ValueError(
            f"merge_bm25_indexes: merged {n_postings} postings vs "
            f"{n_expected} in the shard manifests — a shard is torn; "
            f"aborting before the manifest write (out_path is not "
            f"serveable)"
        )
    # corpus stats are pure arithmetic over the shard manifests (the
    # append_bm25_index token-total recovery, exact under 2^52 tokens)
    n_docs = sum(int(i["manifest"].n_docs) for i in idxs)
    tokens = sum(
        int(round(i["manifest"].n_docs * i["manifest"].avgdl))
        for i in idxs
    )
    _bm25_write_manifest(
        spark, out_path, id_col, n_docs,
        0.0 if n_docs == 0 else tokens / n_docs, int(n_postings),
        _postings_ledger(spark, out_path),
    )


def _postings_ledger(spark, path: str) -> "tuple[int, int]":
    """(parquet file count, bytes under the directory) of the index at
    `path`'s postings — the manifest's file ledger.  The byte total is
    one Hadoop-FS content summary (a single py4j call, whatever the
    file count)."""
    sc = spark.sparkContext
    jpath = sc._jvm.org.apache.hadoop.fs.Path(f"{path}/postings")
    fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
    n_bytes = int(fs.getContentSummary(jpath).getLength())
    return _parquet_file_count(spark, f"{path}/postings"), n_bytes


def _parquet_file_count(spark, path: str) -> int:
    """Number of parquet data files under `path` (Hadoop-FS listing, so
    it holds on object stores) — the read-amplification metric of a
    many-times-appended index component.

    Counts via globStatus over the two layouts the index writers
    produce (flat `*.parquet` and one partition level
    `*/*.parquet`), NOT the recursive listFiles iterator: the iterator
    costs two py4j round-trips PER FILE, which the r12 1M rung measured
    at 128 s for a 21k-file fragmented index — it was the dominant term
    of the whole compaction job (SCALE.md §14).  globStatus returns the
    match count in O(1) py4j calls regardless of file count.

    The PATH prefix is glob-escaped: a directory legally named with
    Hadoop glob metacharacters (`/data/run[1]/idx`) must count its own
    files, not match a character class — only the appended `*.parquet`
    patterns are meant as globs."""
    sc = spark.sparkContext
    jvm = sc._jvm
    fs = jvm.org.apache.hadoop.fs.Path(path).getFileSystem(
        sc._jsc.hadoopConfiguration()
    )
    escaped = "".join(
        f"\\{ch}" if ch in "*?[]{}\\" else ch for ch in path
    )
    n = 0
    for pattern in (f"{escaped}/*.parquet", f"{escaped}/*/*.parquet"):
        arr = fs.globStatus(jvm.org.apache.hadoop.fs.Path(pattern))
        if arr is not None:
            n += len(arr)
    return n


def compact_bm25_index(spark, path: str, out_path: str) -> "dict":
    """Rewrite a many-times-appended index into the fresh-save layout.

    `append_bm25_index` is file-level (old shards never rewritten), so
    after N small appends each term's postings spread across ~N file
    sets and a query's term filter must open every one of them —
    footer min/max pruning degrades because every appended file spans
    the whole vocabulary of its batch.  Compaction is ONE term-hash
    repartition + term sort of the postings (exactly the
    `save_bm25_index` layout) plus a doclens rewrite; scores are
    bit-identical (equality-tested) because the row SET is unchanged.

    Writes to `out_path` (must differ from `path`): the live index
    stays consistent for concurrent readers until the serving layer
    repoints — the same snapshot-then-switch discipline the serve loop
    tests pin for appends.  Returns
    {"postings_files_before", "postings_files_after", "n_docs",
    "n_postings"}."""
    if os.path.abspath(out_path) == os.path.abspath(path):
        raise ValueError(
            "compact_bm25_index: out_path must differ from path "
            "(in-place rewrite would race concurrent readers)"
        )
    # manifest validates on load; the O(index) postings recount is
    # SKIPPED because compaction ends with its own equality check — the
    # rewritten postings count vs the source manifest — so a torn source
    # still fails loudly, one full pass later instead of two (r11
    # verdict ask #3, the compact_pq_index discipline)
    idx = load_bm25_index(spark, path, validate_postings=False)
    id_col = idx["manifest"].id_col
    files_before = _parquet_file_count(spark, f"{path}/postings")
    # the rewrite counts its own rows as an observed metric (r12
    # optimization round) — same torn-source check as the re-read
    # count, one data pass instead of two
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import Observation

    obs = Observation()

    def _rewrite_postings() -> None:
        (
            idx["postings"].repartition(F.col("term"))
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .sortWithinPartitions("term")
            .write.mode("overwrite")
            .parquet(f"{out_path}/postings")
        )

    def _rewrite_doclens() -> None:
        idx["doclens"].write.mode("overwrite").parquet(
            f"{out_path}/doclens"
        )

    # the two component rewrites are independent read->write pairs into
    # a directory nobody can serve until the manifest lands (written
    # LAST, after the equality check) — run them as concurrent Spark
    # jobs so the doclens job back-fills the postings shuffle's tail
    # (guide §2.6); a failure in either propagates before any manifest
    with ThreadPoolExecutor(max_workers=2) as pool:
        fp = pool.submit(_rewrite_postings)
        fd = pool.submit(_rewrite_doclens)
        fp.result()
        fd.result()
    # equality check BEFORE the manifest write: a mismatch must leave
    # out_path manifest-less (unloadable), not self-consistently wrong
    n_postings = int(obs.get["n"])
    if n_postings != int(idx["manifest"].n_postings):
        raise ValueError(
            f"compact_bm25_index: rewrote {n_postings} postings vs "
            f"{idx['manifest'].n_postings} in the source manifest — "
            f"torn source at {path} (out_path is not serveable)"
        )
    # corpus stats are INVARIANT under compaction (the row set is
    # unchanged by contract, and the postings recount above just proved
    # it against the source manifest), so they carry over arithmetically
    # instead of re-aggregating the rewritten doclens — one fewer job
    # per compaction, same manifest values (r12 optimization round).
    # Any tear that could skew the carried stats implies a postings
    # count mismatch (postings are written first on every append path)
    # and fails the check above before this line runs.
    n_docs = int(idx["manifest"].n_docs)
    ledger = _postings_ledger(spark, out_path)
    files_after = ledger[0]
    _bm25_write_manifest(
        spark, out_path, id_col, n_docs,
        float(idx["manifest"].avgdl),
        int(n_postings),
        ledger,
    )
    return {
        "postings_files_before": files_before,
        "postings_files_after": files_after,
        "n_docs": n_docs,
        "n_postings": n_postings,
    }


def bm25_query_batch(
    index: "dict",
    queries: "list[list[str]]",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Serve a BATCH of bag-of-words queries against a loaded BM25 index
    in ONE Spark job — the lexical twin of `ivfpq_query_batch`, and the
    BM25 leg of batch /search/hybrid (r10 verdict ask #4: the knn leg
    gained batch serving; a hybrid batch must not serialize N separate
    postings scans).

    Execution: ONE postings scan filtered to the UNION of all queries'
    terms (the same term-sorted row-group pruning a single query gets),
    df derived once per term from those rows (df is a corpus property —
    identical whichever query asked), then a broadcast (term → q_idx)
    fan-out so each posting row scores for exactly the queries that
    contain its term.  Per-query semantics are EXACTLY `bm25_query`'s
    (equality-tested): same idf/saturation arithmetic, same manifest
    corpus stats, same 6-dp round and doc-id tiebreak.  The final
    top-k window partitions by q_idx — never an unpartitioned window.

    Returns (q_idx, <id_col>, bm25, rnk) with rnk ≤ k per query."""
    from pyspark.sql.window import Window

    meta = index["manifest"]
    id_col = meta.id_col
    if not queries:
        raise ValueError("bm25_query_batch: empty query batch")
    per_q = []
    for qi, q in enumerate(queries):
        terms = sorted({t for t in q if t})
        if not terms:
            raise ValueError(
                f"bm25_query_batch: query {qi} has no non-empty terms"
            )
        per_q.append(terms)
    union_terms = sorted({t for terms in per_q for t in terms})
    spark = index["postings"].sparkSession

    tf = index["postings"].filter(F.col("term").isin(*union_terms))
    # df once per term, over the union scan — a corpus property, shared
    # across queries (identical to what each single query would derive)
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # (q_idx, term) membership — |Q|·avg-terms rows, broadcast-sized
    membership = spark.createDataFrame(
        [(qi, t) for qi, terms in enumerate(per_q) for t in terms],
        "q_idx int, term string",
    )
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(meta.n_docs)) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    norm = F.col("tf") * F.lit(k1 + 1.0) / (
        F.col("tf")
        + F.lit(k1)
        * (
            F.lit(1.0 - b)
            + F.lit(b) * F.col("dl") / F.lit(float(meta.avgdl))
        )
    )
    scored = (
        tf.join(F.broadcast(membership), "term")
        .join(F.broadcast(df_), "term")
        .join(index["doclens"], id_col)
        .groupBy("q_idx", id_col)
        .agg(F.round(F.sum(idf * norm), 6).alias("bm25"))
    )
    w = Window.partitionBy("q_idx").orderBy(F.desc("bm25"), F.asc(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_idx", id_col, "bm25", "rnk")
    )


def rrf_fuse_batch(
    rankings: "list[DataFrame]",
    k: int = 60,
    id_col: str = "doc_id",
    rank_col: str = "rnk",
    topk: int = 10,
    q_col: str = "q_idx",
) -> DataFrame:
    """Per-query reciprocal-rank fusion of N BATCH ranking frames, each
    keyed (q_col, id_col, rank_col) — `rrf_fuse` generalized to the
    batch-serving tier: score(q, d) = Σ_lists 1/(k + rank_{q,d}),
    summing only over lists where (q, d) appears.  Inputs are per-query
    top-k lists (bounded by construction), so the union + groupBy is
    |Q|·k-sized; the final rank window partitions by query.

    Returns (q_col, id_col, rrf_score, rnk) with rnk ≤ topk per
    query."""
    from pyspark.sql.window import Window

    if not rankings:
        raise ValueError("rrf_fuse_batch: need at least one ranking")
    if k <= 0:
        raise ValueError("rrf_fuse_batch: k must be positive")
    parts = [
        df.select(
            F.col(q_col),
            F.col(id_col),
            (
                F.lit(1.0)
                / (F.lit(float(k)) + F.col(rank_col).cast("double"))
            ).alias("_rr"),
        )
        for df in rankings
    ]
    allp = parts[0]
    for p in parts[1:]:
        allp = allp.unionByName(p)
    fused = allp.groupBy(q_col, id_col).agg(
        F.round(F.sum("_rr"), 6).alias("rrf_score")
    )
    w = Window.partitionBy(q_col).orderBy(
        F.desc("rrf_score"), F.asc(id_col)
    )
    return (
        fused.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= topk)
        .select(q_col, id_col, "rrf_score", "rnk")
    )
