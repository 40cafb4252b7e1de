"""Document deduplication operators for training-data pipelines.

Four tiers, cheapest-first — the standard large-corpus dedup ladder:
  1. exact_dedup          hash-groupBy on the full text (one shuffle)
  2. simhash_fingerprints 64→16-bit locality-sensitive bit signature
  3. minhash_lsh_candidates  MinHash signatures + LSH banding → candidate
                             pairs without the O(n²) comparison
  4. ngram_jaccard_pairs  exact shingle-Jaccard verification (inverted-index
                          self-join, not a cross join)

All are pure DataFrame plans using JVM-side built-ins (md5/split/explode/
groupBy) — no Python UDFs — so they scale to a full cluster: the only
shuffles are on shingle/band keys, and the pair-explosion is bounded by
posting-list sizes, not n².

Portability note: every hash is md5-hex, which DuckDB computes identically —
each operator has an exact SQL oracle (see suite wiring in __spark_entry__).
MinHash signatures parse the first 15 hex chars as a 60-bit integer (same
value both engines), so the per-doc min is an integer min that stays in
hash aggregation rather than a string min that falls back to a sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def spread(df: DataFrame) -> DataFrame:
    """Rebalance to the session's default parallelism before CPU-heavy
    per-row work — but ONLY when the input is narrower than the session
    (r12 optimization round). Single parquet files scan as ONE partition
    locally: without the repartition, shingling/hashing runs on one core
    regardless of cluster size. At real scale the scan already yields
    more splits than cores, and the old unconditional `repartition(n)`
    was a full-corpus round-robin exchange (plus its sortBeforeRepartition
    local sort) that moved every byte for nothing — the guide §2.4
    "repartition someone added for parallelism" scale-killer. Partition
    count comes off the physical plan (driver-side, no job); if the
    lookup fails (exotic plan), fall back to repartitioning, the safe
    local behavior. Values are partitioning-independent everywhere
    spread is used (hash/band/term-keyed aggregates with deterministic
    tiebreaks), so skipping the exchange cannot change results.

    Partition count alone can LIE for parquet (r13 optimization round):
    Spark plans byte-range splits, but a row GROUP is parquet's atomic
    read unit, read whole by the split containing its midpoint — a huge
    single-row-group file yields `par` "splits" of which exactly one
    carries every row, and every downstream per-row kernel runs on one
    core while the partition count says wide.  (The
    1M bench fixture is exactly this: one 269 MB / 716 MB file with ONE
    row group; the r12 width check silently serialized every 1M-rung
    kernel.)  So when the scan reads FEWER FILES than cores, the
    footers' row-group counts — bounded driver-side reads, no job —
    decide: fewer total row groups than cores ⇒ the split count
    overstates achievable parallelism ⇒ rebalance (guide §2.5's "one
    huge unsplittable file … repartition immediately after the read").
    Inputs with >= par files, non-parquet sources, and non-file frames
    keep the width check's verdict untouched, and so does a footer probe
    that fails (a stale or unreadable file is inconclusive, not a reason
    to rebalance a frame the width check already found wide).  A frame
    whose rows all reach this point through a shuffle is not probed:
    its width is the exchange's, whatever the scan's row groups were."""
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    try:
        if df.rdd.getNumPartitions() >= par:
            if _shuffled(df._jdf.queryExecution().executedPlan()):
                return df
            files = df.inputFiles()
            if not files or len(files) >= par:
                return df
            if not all(
                f.rsplit("/", 1)[-1].endswith(".parquet") for f in files
            ):
                return df
            from noaa_oracle_spark.pipeline.metaio import (
                footer_row_group_count,
            )

            total_rgs = 0
            for f in files:
                try:
                    total_rgs += footer_row_group_count(spark, f)
                except Exception:
                    return df
                if total_rgs >= par:
                    return df
            # fewer row groups than cores: fall through to the rebalance
    except Exception:
        pass
    return df.repartition(par)


def _shuffled(plan) -> bool:
    """Whether every row of a physical plan's output passed through a
    shuffle exchange, i.e. its partitions are the exchange's and not the
    scan's splits. A broadcast side does not carry the output's
    partitioning, so it is not followed."""
    name = plan.nodeName()
    if name == "AdaptiveSparkPlan":  # its current plan, initial or final
        return _shuffled(plan.executedPlan())
    if name == "ResultQueryStage":
        return _shuffled(plan.plan())
    if name in ("Exchange", "ReusedExchange", "ShuffleQueryStage"):
        return True
    children = plan.children()
    kids = [children.apply(i) for i in range(children.size())]
    kids = [k for k in kids if k.nodeName() != "BroadcastExchange"]
    return bool(kids) and all(_shuffled(k) for k in kids)


def _word_shingles(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                   n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).

    Shape: materialize the split array once, posexplode positions, then
    build each shingle by direct element_at lookups into the carried array
    — every operator whole-stage-codegen'd, no shuffle before the dedup.
    Two rejected alternatives, both measured on this workload:
      - higher-order `transform(sequence(...), i -> ...slice...)`: HOF
        lambdas evaluate INTERPRETED per element (~20 ms/doc, ~100×);
      - posexplode + LEAD windows: WindowExec breaks codegen and adds a
        sort+shuffle (~5 ms/doc).
    GenerateExec passes the array by reference, so carrying `words`
    through the explode copies nothing."""
    ex = spread(docs).select(
        F.col(id_col),
        F.split(F.col(text_col), " ").alias("words"),
    ).select(
        F.col(id_col),
        F.col("words"),
        F.posexplode("words").alias("pos", "w0"),
    )
    shingle = F.concat_ws(
        " ", *[F.expr(f"element_at(words, pos + {i + 1})") for i in range(n)]
    )
    return (
        ex.filter(F.col("pos") + n <= F.size("words"))
        .select(F.col(id_col), shingle.alias("shingle"))
        .dropDuplicates([id_col, "shingle"])
    )


def _pairs_within_groups(
    grouped: DataFrame, group_cols: list[str], id_col: str
) -> DataFrame:
    """All (a < b) id pairs co-occurring in a group, via posting-list
    explosion: groupBy(group) → sorted id array → nested transform emitting
    the upper-triangle pairs.

    Versus a self-join on the group key this (a) evaluates the upstream
    subtree ONCE instead of twice, (b) replaces a sort-merge join with a
    map-side explode, and (c) shuffles each id once per group instead of
    the whole row. Pair-count is inherently quadratic in posting-list
    length either way — the classic inverted-index bound.
    """
    lists = grouped.groupBy(*group_cols).agg(
        F.collect_set(F.col(id_col)).alias("ids")
    )
    # double explode + a<b filter: generates k² candidates per group but
    # every operator is codegen'd (GenerateExec); the nested-transform
    # upper-triangle construction is interpreted per element and loses
    # badly despite emitting half the rows.
    return (
        lists.select(F.explode("ids").alias("doc_a"), F.col("ids"))
        .select("doc_a", F.explode("ids").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
    )


def exact_dedup(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups: md5(text) → representative (min id) + count.
    One hash-aggregate; at 100 TB this is the classic first pass — the
    shuffle key is the 128-bit digest, perfectly uniform."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.min(id_col).alias("rep_doc_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold_num: int = 1,
    threshold_den: int = 2,
) -> DataFrame:
    """Exact n-gram Jaccard similar pairs via inverted-index self-join.

    Pairs (a < b) with |A∩B| / |A∪B| >= threshold_num/threshold_den. The
    predicate is evaluated on integers (den*common >= num*union) so results
    are exact and engine-portable. Join explodes only co-occurring shingles
    (posting lists), never the full n² pair space."""
    # sh has two consumers (pair counts + per-doc totals) and Spark
    # re-evaluates a subtree per consumer — persist so shingling (and its
    # spread-exchange) runs once; storage is ~#shingles strings, evicted
    # LRU. At cluster scale this is the standard materialize-the-shared-
    # stage pattern.
    sh = _word_shingles(docs, text_col, id_col, n).persist()
    counts = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    common = (
        _pairs_within_groups(sh, ["shingle"], id_col)
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    ca = counts.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a"))
    cb = counts.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("n_b"))
    joined = common.join(F.broadcast(ca), "doc_a").join(F.broadcast(cb), "doc_b")
    union_sz = F.col("n_a") + F.col("n_b") - F.col("common")
    return (
        joined.filter(
            F.col("common") * threshold_den >= union_sz * threshold_num
        )
        .select(
            "doc_a",
            "doc_b",
            "common",
            union_sz.alias("union_size"),
        )
    )


def ngram_jaccard_pairs_ppjoin(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold_num: int = 1,
    threshold_den: int = 2,
) -> DataFrame:
    """Exact thresholded-Jaccard pairs via PREFIX FILTERING (PPJoin family,
    Xiao et al., WWW'08) — same output as `ngram_jaccard_pairs`, different
    candidate generation that survives hot shingles at scale.

    Order every doc's shingles by (global document-frequency ASC, shingle):
    for Jaccard >= t only the first |A| - ceil(t*|A|) + 1 shingles (the
    RAREST ones) need to be indexed — any qualifying pair provably shares a
    prefix token under a common total order. Hot shingles (stopword
    trigrams) sort LAST, so they fall outside almost every prefix and their
    quadratic posting lists never explode; candidates are then verified
    exactly with one array_intersect per pair.

    Trade: two extra shuffles (df computation + join) buy candidate
    explosion ~O(sum of RARE posting-list squares). On uniform synthetic
    text that roughly breaks even; on real corpora with Zipfian shingles it
    is the difference between running and dying — which is why it is the
    documented 100 TB path and interchangeable with the inverted-index
    operator (equality property-tested)."""
    sh = _word_shingles(docs, text_col, id_col, n)
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    # arr has THREE consumers (prefix explode + both verification sides),
    # but needs NO manual persist: all three consume the identical
    # exchange subtree, so Spark's exchange reuse (on by default,
    # spark.sql.exchangeReuseEnabled) computes the shingle→df-join→
    # sorted-collect stage once and wires the other two consumers to its
    # shuffle files. Measured at sf0.1: lazy+ReusedExchange 3.0 s ≈
    # persist 3.0 s < eager localCheckpoint 5.3 s — and unlike persist
    # there is no cache entry to leak or unpersist, and the returned pair
    # set stays fully lazy for the caller to compose.
    arr = (
        sh.join(dfreq, "shingle")
        .groupBy(id_col)
        .agg(
            F.expr("transform(array_sort(collect_list(struct(df, shingle))),"
                   " s -> s.shingle)").alias("shingles")
        )
    )
    sz = F.size("shingles")
    # prefix_len = L - ceil(t*L) + 1, computed in exact integer arithmetic
    ceil_tl = (F.lit(threshold_num) * sz + F.lit(threshold_den - 1)).cast(
        "long"
    ) / F.lit(threshold_den)
    prefix_len = sz - F.floor(ceil_tl).cast("int") + F.lit(1)
    # the prefix rows carry each doc's shingle COUNT and the token's
    # PREFIX POSITION so candidate pairs can apply PPJoin's positional
    # filter at generation time (r12 optimization round): a pair sharing
    # a prefix token at 0-based positions (pa, pb) can overlap in at
    # most min(pa,pb) tokens before it (both sorted under the same
    # global (df, shingle) order), the token itself, and
    # min(na-pa-1, nb-pb-1) after it; J >= num/den needs
    # O·(num+den) >= num·(na+nb). Any occurrence whose bound fails
    # proves the PAIR fails (the bound majorizes the true overlap), and
    # a qualifying pair always passes through at least one shared
    # occurrence — output identical, property-tested. At (pa,pb)=(0,0)
    # the bound reduces to the plain length filter min·den >= num·max,
    # so this strictly subsumes it. Two ints per row; candidates die
    # BEFORE the dropDuplicates shuffle and the two full-array
    # verification joins (guide §2.3: move heavy payloads only for
    # survivors).
    pref = arr.select(
        F.col(id_col),
        sz.alias("_nsh"),
        F.posexplode(F.slice("shingles", F.lit(1), prefix_len)).alias(
            "_p", "shingle"
        ),
    )
    # collect_list, not collect_set: shingles are distinct per doc, so
    # every (doc, shingle) struct is already unique within its group.
    plists = pref.groupBy("shingle").agg(
        F.collect_list(
            F.struct(F.col(id_col), F.col("_nsh"), F.col("_p"))
        ).alias("ids")
    )
    raw = (
        plists.select(F.explode("ids").alias("a"), F.col("ids"))
        .select("a", F.explode("ids").alias("b"))
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    )
    overlap_ub = (
        F.least(F.col("a._p"), F.col("b._p"))
        + F.lit(1)
        + F.least(
            F.col("a._nsh") - F.col("a._p") - F.lit(1),
            F.col("b._nsh") - F.col("b._p") - F.lit(1),
        )
    )
    pos_ok = overlap_ub * F.lit(threshold_num + threshold_den) >= (
        F.col("a._nsh") + F.col("b._nsh")
    ) * F.lit(threshold_num)
    cand = (
        raw.filter(pos_ok)
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .dropDuplicates()
    )
    a = arr.select(F.col(id_col).alias("doc_a"), F.col("shingles").alias("sh_a"))
    b = arr.select(F.col(id_col).alias("doc_b"), F.col("shingles").alias("sh_b"))
    common = F.size(F.array_intersect("sh_a", "sh_b"))
    union_sz = F.size("sh_a") + F.size("sh_b") - F.col("common")
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("common", common)
        .withColumn("union_size", union_sz)
        .filter(
            F.col("common") * threshold_den
            >= F.col("union_size") * threshold_num
        )
        .select("doc_a", "doc_b", "common", "union_size")
    )


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    n: int = 3,
) -> DataFrame:
    """MinHash signature per doc: mh_i = min over shingles of
    int(md5(i|shingle)[:15 hex chars]) — a 60-bit integer hash.

    Seeding by prefixing the hash index gives `num_hashes` independent
    permutations from one md5 kernel; truncating the hex to 15 chars keeps
    the value a positive LONG, and min-of-long == min-of-full-hex except
    on 60-bit collisions (~2^-60 per pair — irrelevant to LSH banding).
    LONG matters for scale: min over a var-length string falls out of
    HashAggregate into SortAggregate, which sorts the entire shingle
    explosion; the integer min stays in codegen hash aggregation with
    map-side partials. One groupBy — num_hashes conditional mins."""
    sh = _word_shingles(docs, text_col, id_col, n)
    aggs = [
        F.min(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle"))), 1, 15
                ),
                16,
                10,
            ).cast("long")
        ).alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def minhash_lsh_candidates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    rows_per_band: int = 2,
    n: int = 3,
) -> DataFrame:
    """LSH banding over MinHash signatures → candidate near-dup pairs.

    Signature is split into bands of `rows_per_band` hashes; docs agreeing
    on ANY full band become a candidate pair. Probability of candidacy for
    Jaccard s is 1-(1-s^r)^b — the standard S-curve. The band hash is the
    shuffle key, so the self-join is an equi-join on (band_id, band_hash):
    at 100 TB this is the only way pair generation stays sub-quadratic."""
    sig = minhash_signatures(docs, text_col, id_col, num_hashes, n)
    num_bands = num_hashes // rows_per_band
    bands = F.array(
        *[
            F.struct(
                F.lit(band).alias("band_id"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[
                            F.col(f"mh{band * rows_per_band + r}")
                            for r in range(rows_per_band)
                        ],
                    )
                ).alias("band_hash"),
            )
            for band in range(num_bands)
        ]
    )
    exploded = sig.select(F.col(id_col), F.explode(bands).alias("band")).select(
        F.col(id_col),
        F.col("band.band_id").alias("band_id"),
        F.col("band.band_hash").alias("band_hash"),
    )
    return _pairs_within_groups(
        exploded, ["band_id", "band_hash"], id_col
    ).dropDuplicates()


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 50,
    driver_edge_threshold: int = 1_000_000,
    algorithm: str = "auto",
    stats: dict | None = None,
) -> DataFrame:
    """Connected components by iterative min-label propagation: the dedup
    CLUSTERING step — candidate pairs (MinHash/Jaccard/embedding) say "these
    two are dups"; components turn that pair soup into groups with one
    representative (the min id), which is what a 100 TB dedup actually
    deletes against.

    `edges` is (doc_a, doc_b) pairs, any orientation. Each iteration every
    node takes min(own label, neighbors' labels) — converges in ≤ diameter
    iterations; near-dup clusters are shallow (pairs come from a similarity
    threshold), so this terminates in a handful of rounds. For long-chain /
    high-diameter graphs the log-round alternative is large-star/small-star
    (Kiveris et al., `_cc_two_phase_star`) — same join/agg primitives,
    O(log^2 n) rounds independent of diameter. `algorithm` picks the
    distributed path: "auto"/"star" → two-phase star (the scale-safe
    default: round count does not grow with graph diameter), "propagate" →
    the min-label loop (fewer, cheaper rounds on shallow thresholded pair
    graphs). Lineage is cut per round with localCheckpoint (iterative plans
    otherwise grow without bound); convergence is detected by counting
    changed labels, so the loop does exact work, not a fixed schedule.
    `stats`, when a dict, receives {"rounds": n, "path": name} for bench
    instrumentation.

    Returns (id_col, component) for EVERY node — singletons keep their own
    id, so the output is a total partition of the corpus.

    Hybrid execution: similarity-thresholded pair graphs are almost always
    TINY relative to the corpus (the whole point of thresholding), so when
    the edge count is under `driver_edge_threshold` the components are
    solved with union-find on the driver in one pass and broadcast-joined
    back — no iteration, no per-round job overhead. The distributed
    min-propagation loop below is the path for graphs that don't fit; set
    the threshold to 0 to force it (tests do).

    The threshold is an EDGE COUNT because that is what the probe measures
    cheaply; size the byte budget consciously when raising it — collected
    edge rows cost ~150 B each on the driver (two boxed longs + Row/tuple
    overhead), so the 1M default is ~150 MB transient driver heap, and the
    chosen path is always reported via ``stats["path"]`` so a silent
    inheritance at scale is visible in instrumentation."""
    # the edge set is usually the output of a whole candidate-pair pipeline
    # (shingling, banding, joins) — persist so the size probe and the
    # consumption below evaluate it once
    edges = edges.persist()
    n_edges = edges.count()
    if n_edges <= driver_edge_threshold:
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:
                parent[x], x = root, parent[x]
            return root

        if stats is not None:
            stats.update(rounds=0, path="driver_union_find")
        pair_rows = edges.select("doc_a", "doc_b").collect()
        edges.unpersist()
        for a, b in pair_rows:
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by min id so the representative is the min member
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        if parent:
            mapping = [(x, find(x)) for x in list(parent)]
            mdf = nodes.sparkSession.createDataFrame(
                mapping, f"{id_col} long, _root long"
            )
            return nodes.select(id_col).join(
                F.broadcast(mdf), id_col, "left"
            ).select(
                F.col(id_col),
                F.coalesce("_root", F.col(id_col)).alias("component"),
            )
        return nodes.select(
            F.col(id_col), F.col(id_col).alias("component")
        )
    if algorithm in ("auto", "star"):
        return _cc_two_phase_star(nodes, edges, id_col, max_iter, stats)
    sym = edges.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).union(
        edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    sym = sym.persist()
    labels = nodes.select(
        F.col(id_col), F.col(id_col).alias("component")
    ).localCheckpoint(eager=True)
    rounds = 0
    for _ in range(max_iter):
        neigh = (
            sym.join(labels, sym.dst == labels[id_col])
            .groupBy("src")
            .agg(F.min("component").alias("neigh_min"))
        )
        updated = (
            labels.join(neigh, labels[id_col] == neigh.src, "left")
            .select(
                F.col(id_col),
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("neigh_min"), F.col("component")),
                ).alias("component"),
                (F.col("neigh_min") < F.col("component")).alias("_changed"),
            )
        ).localCheckpoint(eager=True)
        changed = updated.filter(F.col("_changed")).count()
        labels = updated.drop("_changed")
        rounds += 1
        if changed == 0:
            break
    sym.unpersist()
    edges.unpersist()
    if stats is not None:
        stats.update(rounds=rounds, path="propagate")
    return labels


def _cc_two_phase_star(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str,
    max_iter: int,
    stats: dict | None,
) -> DataFrame:
    """Alternating large-star/small-star connected components (Kiveris et
    al. 2014, "Connected Components in MapReduce and Beyond", alg. 2).

    Both phases are one groupBy-min plus one equi-join over the edge set —
    the same shuffle primitives as min-propagation — but the edge set itself
    is rewritten each round so path lengths halve geometrically: the round
    count is O(log^2 n) in the component size, independent of graph
    diameter. On a 10M-node chain min-propagation needs 10M rounds; this
    needs ~25. At convergence the edge set is exactly the star
    {(v, min(component)) : v != min}, so labels fall out of the final edges
    with no extra pass.

    large-star(u): for m = min(Γ(u) ∪ {u}), connect every neighbor v > u to
    m. small-star(u) on edges oriented parent<child: connect every child (and
    u itself) to the minimum neighbor. Self-loops are dropped and edges kept
    canonical (src > dst) between phases.

    Convergence test: the canonical edge set is compared round-over-round by
    (count, bit_xor(xxhash64(src,dst))) — an O(1)-result aggregate instead
    of a full except-join (xor, unlike sum, cannot overflow under ANSI
    mode; the edge set is distinct so xor is a proper set fingerprint); a
    64-bit collision on consecutive edge sets of identical count is
    vanishingly unlikely, and a stable fingerprint means the deterministic
    rewrite reproduced the same set, i.e. a true fixed point.
    """
    canon = (
        edges.select(
            F.greatest("doc_a", "doc_b").alias("src"),
            F.least("doc_a", "doc_b").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    edges.unpersist()

    def _canon(e: DataFrame) -> DataFrame:
        return (
            e.select(
                F.greatest("src", "dst").alias("src"),
                F.least("src", "dst").alias("dst"),
            )
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )

    def _large_star(e: DataFrame) -> DataFrame:
        sym = e.union(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        mins = sym.groupBy("src").agg(
            F.least(F.min("dst"), F.col("src")).alias("m")
        )
        return _canon(
            sym.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        )

    def _small_star(e: DataFrame) -> DataFrame:
        # e is canonical (src > dst): src is the child side, dst the parents
        mins = e.groupBy("src").agg(F.min("dst").alias("m"))
        rewired = e.join(mins, "src").select(
            F.col("dst").alias("src"), F.col("m").alias("dst")
        )
        self_edge = mins.select(F.col("src"), F.col("m").alias("dst"))
        return _canon(rewired.union(self_edge))

    def _fingerprint(e: DataFrame):
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("src", "dst")).alias("h"),
        ).first()
        return (row["n"], row["h"])

    e = canon
    prev = _fingerprint(e)
    rounds = 0
    for _ in range(max_iter):
        e = _small_star(_large_star(e)).localCheckpoint(eager=True)
        rounds += 1
        cur = _fingerprint(e)
        if cur == prev:
            break
        prev = cur
    if stats is not None:
        stats.update(rounds=rounds, path="two_phase_star")
    # fixed point: e == {(member, component_min)} for every non-min member.
    # The groupBy-min is an identity at the fixed point (one edge per
    # member); it only does work if max_iter was exhausted early, keeping
    # the output a total partition in that degraded case too.
    comp = e.groupBy("src").agg(F.min("dst").alias("component")).select(
        F.col("src").alias(id_col), F.col("component")
    )
    return (
        nodes.select(id_col)
        .join(comp, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("component", F.col(id_col)).alias("component"),
        )
    )


def simhash_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
) -> DataFrame:
    """SimHash bit-signature per document over distinct words.

    Bit j of the fingerprint is the sign of sum over words of ±1, where the
    vote is the high bit of hex digit j of md5(word). `bits` ≤ 32 uses the
    first `bits` hex digits. Everything is integer/string built-ins, so the
    same computation runs verbatim in DuckDB for the oracle."""
    words = spread(docs).select(
        F.col(id_col),
        F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("w"),
    ).filter(F.col("w") != "")
    h = F.md5(F.col("w"))
    votes = [
        F.sum(
            F.when(
                F.substring(h, j + 1, 1).isin(*list("89abcdef")), 1
            ).otherwise(-1)
        ).alias(f"s{j}")
        for j in range(bits)
    ]
    sums = words.groupBy(id_col).agg(*votes)
    fingerprint = None
    for j in range(bits):
        bit = F.when(F.col(f"s{j}") > 0, F.lit(2 ** j)).otherwise(F.lit(0))
        fingerprint = bit if fingerprint is None else fingerprint + bit
    return sums.select(F.col(id_col), fingerprint.cast("long").alias("simhash"))


def near_dedup_corpus(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold_num: int = 8,
    threshold_den: int = 10,
    representative: str = "min_id",
    quality_col: str | None = None,
) -> DataFrame:
    """The dedup ladder as one call: exact dedup → PPJoin near-dup pairs →
    connected components → keep one representative per cluster — returns
    the filtered corpus (same schema as `docs`).

    Representative policy:
      - ``"min_id"`` (default): the deterministic baseline — lowest id
        wins, both at the exact tier and per near-dup cluster.
      - ``"best_quality"``: what production corpus jobs actually want —
        among a cluster's members keep the row with the highest
        `quality_col` (a score column already on `docs`, e.g. from
        `text.quality_scores` or `unigram_logprob`), id-ascending
        tiebreak so the pick stays deterministic. The exact tier still
        keys on min-id (exact duplicates have identical text, hence
        identical text-derived quality — the choice is arbitrary and
        min-id is the stable one); only NEAR-dup clusters, where members
        genuinely differ, consult quality.

    This is the composition test_pipeline_e2e pins, packaged as the
    operator a corpus job actually invokes. Every stage is the scale-safe
    variant: hash-agg exact dedup, prefix-filtered pair generation
    (Zipf-resistant), star components, and a representative selection
    that is one hash-agg on the cluster id (max_by struct argmax — the
    same integer-folded argmax discipline as the rest of the suite)."""
    if representative not in ("min_id", "best_quality"):
        raise ValueError(f"unknown representative policy {representative!r}")
    if representative == "best_quality" and (
        quality_col is None or quality_col not in docs.columns
    ):
        raise ValueError(
            "representative='best_quality' needs quality_col naming an "
            "existing column"
        )
    reps = exact_dedup(docs, text_col=text_col, id_col=id_col).select(
        F.col("rep_doc_id").alias(id_col)
    )
    uniq = docs.join(reps, id_col)
    pairs = ngram_jaccard_pairs_ppjoin(
        uniq, text_col=text_col, id_col=id_col, n=n,
        threshold_num=threshold_num, threshold_den=threshold_den,
    ).select("doc_a", "doc_b")
    comp = connected_components(uniq.select(id_col), pairs, id_col=id_col)
    if representative == "min_id":
        keep = comp.groupBy("component").agg(
            F.min(id_col).alias(id_col)
        ).select(id_col)
    else:
        scored = comp.join(
            uniq.select(id_col, F.col(quality_col).alias("_q")), id_col
        )
        # argmax by (quality asc is wrong — want max quality, then MIN id):
        # max over (quality, -id) structs picks highest quality, lowest id
        keep = scored.groupBy("component").agg(
            (-F.max(F.struct(F.col("_q"), (-F.col(id_col)).alias("_nid")))
             ["_nid"]).alias(id_col)
        ).select(id_col)
    return uniq.join(keep, id_col)
