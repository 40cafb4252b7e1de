"""Plan-shape assertions: the physical plans the engine is designed to
produce actually materialize. These are the 100 TB safeguards — if a filter
stops reaching the parquet scan or a dimension join stops broadcasting,
these fail long before a cluster run would reveal it.
"""

from __future__ import annotations

from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from noaa_oracle_spark.queries.weather import daily_observations, observation_data
from noaa_oracle_spark.sources.catalog import SnapshotCatalog
from noaa_oracle_spark.sources.reader import read_snapshots
from tests.weather_fixtures import write_observation_fixtures

UTC = timezone.utc


@pytest.fixture(scope="module")
def obs(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("plans"))
    write_observation_fixtures(d)
    cat = SnapshotCatalog(d)
    return read_snapshots(spark, cat.all_paths("observations"), "observations")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_station_filter_pushdown(spark, obs):
    """The station IN-list must reach the parquet scan as PushedFilters —
    at 100 TB this is row-group pruning on the dictionary-encoded
    station_id column (SURVEY §4: predicate pushdown)."""
    df = observation_data(
        obs,
        ["KATL", "KBOS"],
        datetime(2026, 1, 15, tzinfo=UTC),
        datetime(2026, 1, 18, tzinfo=UTC),
    )
    plan = _formatted(df)
    assert "PushedFilters" in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("station_id" in l and "In(" in l for l in pushed), pushed


def test_column_pruning(spark, obs):
    """A projection that needs 3 columns must not scan 19 — ReadSchema
    should carry only what the aggregate uses."""
    df = obs.groupBy("station_id").agg(F.max("temperature_value"))
    plan = _formatted(df)
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read and "temperature_value" in read[0]
    assert "wx_string" not in read[0] and "dewpoint_value" not in read[0]


def test_aggregate_strategy(spark, obs):
    """Documents a measured plan property (AQE finalizes plans only on
    execution, so collect first):

    - numeric-only rollups hash-aggregate inside WholeStageCodegen — the
      fast path for the 100 TB daily rollups;
    - the reference's string extremes (MAX(temperature_unit_code),
      MIN/MAX(begin_time) — weather_data.rs:363-372) force SortAggregate:
      Spark's hash aggregation needs fixed-width mutable buffers. Accepted
      for parity; the scale mitigation (if these queries ever dominate) is
      splitting the string aggs into a narrow side aggregation joined back
      on the group keys."""
    numeric = obs.groupBy("station_id").agg(
        F.min("temperature_value").alias("tlo"),
        F.max("wind_speed").alias("w"),
        F.count(F.lit(1)).alias("n"),
    )
    numeric.collect()
    p = _plan(numeric)
    # codegen'd operators print with the `*(n)` stage marker
    assert "HashAggregate" in p and "*(" in p

    full = daily_observations(
        obs, None, datetime(2026, 1, 15, tzinfo=UTC), datetime(2026, 1, 18, tzinfo=UTC)
    )
    full.collect()
    assert "SortAggregate" in _plan(full)  # string MAX — known, accepted


def test_dim_join_broadcasts(spark):
    """suite q03/q25: tiny dims must plan as broadcast joins, not
    sort-merge (SURVEY §4 join strategy)."""
    from noaa_oracle_spark.suite import q25_star_revenue

    plan = _plan(q25_star_revenue(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan


def test_rollup_single_shuffle(spark):
    """suite q31: ROLLUP must plan as one Expand + one shuffle (partial →
    exchange → final hash agg), not one aggregation pass per grouping set."""
    from noaa_oracle_spark.suite import q31_rollup_subtotals

    df = q31_rollup_subtotals(spark, "/root/testdata/sf0.001")
    df.collect()
    # AQE prints Final and Initial sections; count shuffles in the final only
    p = _plan(df).split("== Initial Plan ==")[0]
    assert "Expand" in p
    assert p.count("ShuffleQueryStage") == 1, p


def test_set_ops_semi_anti_broadcast(spark):
    """suite q32: INTERSECT/EXCEPT must become broadcast semi/anti joins —
    the shapes that stay shuffle-free on the big side at scale."""
    from noaa_oracle_spark.suite import q32_set_ops

    df = q32_set_ops(spark, "/root/testdata/sf0.001")
    df.collect()
    p = _plan(df)
    assert "LeftSemi" in p and "LeftAnti" in p
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_embedding_pairs_single_stage(spark):
    """suite q29: the pair kernel must be ONE map stage — a spread exchange
    feeding MapInPandas, with no shuffle of the O(n²) pair space (pairs are
    generated and filtered inside the kernel)."""
    from noaa_oracle_spark.suite_pipeline import q29_embedding_dedup

    df = q29_embedding_dedup(spark, "/root/testdata/sf0.001")
    df.collect()
    p = _plan(df)
    assert "MapInPandas" in p
    assert "Exchange hashpartitioning" not in p, p


def test_range_join_not_nested_loop(spark):
    """suite q36: the binned interval join must plan as a hash equi-join on
    the bucket id — a BroadcastNestedLoopJoin here means the binning
    rewrite silently stopped applying and the query is O(n·m)."""
    from noaa_oracle_spark.suite import q36_range_join

    df = q36_range_join(spark, "/root/testdata/sf0.001")
    df.collect()
    p = _plan(df)
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "Join" in p


def test_deep_join_family_plans(spark):
    """suite q57/q58/q60/q61: the TPC-H-shaped deep joins must keep their
    designed physical shape — dims broadcast, the single fact-fact join is
    the only shuffle join, top-k plans as TakeOrderedAndProject (no global
    sort), NOT-IN compiles to a broadcast anti-join, and the dual-role
    nation join never degenerates into a cartesian product."""
    from noaa_oracle_spark.suite import (
        q57_shipping_priority,
        q58_region_volume,
        q60_parts_supplier,
        q61_market_share,
    )

    sf = "/root/testdata/sf0.001"

    p57 = _plan(q57_shipping_priority(spark, sf))
    assert "TakeOrderedAndProject" in p57, p57
    assert "BroadcastHashJoin" in p57

    df58 = q58_region_volume(spark, sf)
    df58.collect()
    p58 = _plan(df58)
    assert p58.count("BroadcastHashJoin") >= 4, p58
    assert "CartesianProduct" not in p58
    # orders ⋈ lineitem is the one join allowed to shuffle at scale
    assert p58.count("SortMergeJoin") <= 1, p58

    df60 = q60_parts_supplier(spark, sf)
    df60.collect()
    p60 = _plan(df60)
    assert "LeftAnti" in p60, p60
    assert "BroadcastHashJoin" in p60

    df61 = q61_market_share(spark, sf)
    df61.collect()
    p61 = _plan(df61)
    assert "CartesianProduct" not in p61
    assert "BroadcastNestedLoopJoin" not in p61
    assert p61.count("BroadcastHashJoin") >= 5, p61


def test_subquery_family_plans(spark):
    """suite q67–q74: every decorrelated subquery pattern must keep its
    scale-designed shape — the fact table scanned exactly once wherever
    the design promises it (a duplicated multi-consumer subtree would
    silently double the dominant cost at 100 TB), dims broadcast (no
    sort-merge joins at dim scale), semi/anti subqueries staying
    semi/anti."""
    from noaa_oracle_spark.suite import (
        q67_min_cost_supplier,
        q68_important_parts,
        q71_large_orders,
        q72_disjunctive_revenue,
        q73_promo_part_suppliers,
        q74_dormant_customers,
    )

    sf = "/root/testdata/sf0.001"

    single_fact_scan = {
        "q67": q67_min_cost_supplier,
        "q71": q71_large_orders,
        "q72": q72_disjunctive_revenue,
        "q73": q73_promo_part_suppliers,
    }
    for name, fn in single_fact_scan.items():
        p = _plan(fn(spark, sf))
        assert p.count("lineitem.parquet") == 1, f"{name}: fact re-scan\n{p}"
        assert "SortMergeJoin" not in p, f"{name}: dim join fell to SMJ\n{p}"

    # q68 (Q11 global-threshold) deliberately trades ONE extra pruned
    # fact scan for killing its empty-partition window (round 4): the
    # 1-row total aggregate duplicates the per-part subtree (the
    # q98/tfidf pattern — two parallel linear scans), which beats
    # funneling every per-part row through a single window task. Pin
    # EXACTLY two scans (a third would mean a new consumer leaked in)
    # and still no sort-merge dim join.
    # Measured alternative (r5 verdict ask, bench_q68.py at 100M rows ×
    # 10M parts, min of 3): plan="persist" 1.58 s vs two_scan 2.15 s —
    # persist wins 27% and is exposed as the service-deployment option;
    # the GATE stays two_scan because a lazy gate query cannot own cache
    # lifecycle under the driver's run-twice protocol (see the q68
    # docstring). The persist plan must show the cache node and ONE scan.
    p68 = _plan(q68_important_parts(spark, sf))
    assert p68.count("lineitem.parquet") == 2, f"q68 scan count\n{p68}"
    assert "SortMergeJoin" not in p68, p68
    df68p = q68_important_parts(spark, sf, plan="persist")
    try:
        p68p = _plan(df68p)
        # both consumers (total aggregate + threshold filter) must read
        # the cache; the file scan string still appears inside the
        # InMemoryRelation's printed definition, so count consumers, not
        # scans
        assert p68p.count("InMemoryTableScan") >= 2, p68p
    finally:
        spark.catalog.clearCache()

    p73 = _plan(q73_promo_part_suppliers(spark, sf))
    assert p73.count("LeftSemi") >= 2, p73  # both nesting levels stay semi

    p74 = _plan(q74_dormant_customers(spark, sf))
    assert "LeftAnti" in p74, p74
    assert "SortMergeJoin" not in p74, p74


def test_runtime_bloom_filter_injection(spark):
    """When a selective dim side is too big to broadcast (the 100 TB
    fact⋈large-dim case), Spark must inject a runtime bloom filter: the
    dim side builds bloom_filter_agg, the fact side gets a might_contain
    pre-filter ahead of the shuffle — rows from the fact table that can't
    join are dropped BEFORE the exchange. Locally the fact scan is far
    below the 10 GB application-side threshold, so the thresholds are
    scaled down to let the (default-on) rule fire; at the target scale the
    defaults fire on their own."""
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
    )
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold", "0",
        )
        li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
        o = spark.read.parquet("/root/testdata/sf0.01/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = _plan(j)
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan, plan
        assert j.collect()  # and it still computes
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_nearest_site_join_broadcasts_sites(spark):
    """suite q65: the NN join must broadcast the site registry and stream
    the point side through a BroadcastNestedLoopJoin — the point side
    (arbitrarily large at scale) must never be shuffled for the pairing
    itself (only the tiny per-point aggregations shuffle)."""
    from noaa_oracle_spark.suite import q65_nearest_station

    df = q65_nearest_station(spark, "/root/testdata/sf0.001")
    df.collect()
    p = _plan(df)
    assert "BroadcastNestedLoopJoin" in p, p
    assert "CartesianProduct" not in p, p


def test_q81_predicates_reach_scan(spark):
    """TPC-H Q6 shape (q81): the date/discount/quantity predicates must
    all arrive at the lineitem parquet scan as PushedFilters, and the
    ReadSchema must carry only the four referenced columns — the
    pure-pushdown query is worthless if the scan reads everything."""
    from noaa_oracle_spark.suite import q81_revenue_filter

    df = q81_revenue_filter(spark, "/root/testdata/sf0.001")
    plan = _formatted(df)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed, plan
    line = pushed[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in line, line
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_extendedprice" in read
    assert "l_orderkey" not in read, read  # untouched columns pruned


def test_q84_topk_no_global_sort(spark):
    """TPC-H Q10 shape (q84): the top-20 must run as
    TakeOrderedAndProject — a global Sort materialization of every
    customer group would be the classic scale bug."""
    from noaa_oracle_spark.suite import q84_returned_items

    df = q84_returned_items(spark, "/root/testdata/sf0.001")
    p = _plan(df)
    assert "TakeOrderedAndProject" in p, p


def test_q82_dimensions_broadcast(spark):
    """TPC-H Q7 shape (q82): both nation roles and the supplier dimension
    must broadcast; the only sort-merge-eligible joins are the two fact
    joins, and no join may degrade to a nested loop."""
    from noaa_oracle_spark.suite import q82_volume_shipping

    df = q82_volume_shipping(spark, "/root/testdata/sf0.001")
    df.collect()
    p = _plan(df)
    assert p.count("BroadcastHashJoin") >= 3, p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p


def test_q106_bigram_stream_shuffles_once(spark):
    """De-skewed bigram LM (q106): the occurrence-scale gram stream must
    cross exactly ONE exchange, keyed (doc_id, w1, w2) — uniform, because
    doc_id spreads a hot bigram across reducers. Every other exchange
    runs at bigram-TYPE or term granularity (the big/uni count aggs);
    the doc-side stream picks up its precomputed log-probability via a
    broadcast (sf-small) or a single skew-split (w1, w2) join, never via
    three per-occurrence count joins (the pre-r5 shape)."""
    import re

    from noaa_oracle_spark.suite_pipeline import q106_bigram_logprob

    df = q106_bigram_logprob(spark, "/root/testdata/sf0.001")
    p = _plan(df)
    keysets = [
        frozenset(re.findall(r"(\w+)#\d+", m))
        for m in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", p)
    ]
    doc_gram = [k for k in keysets if k == {"doc_id", "w1", "w2"}]
    assert len(doc_gram) == 1, keysets  # the one occurrence-scale shuffle
    # the remaining exchanges are type-level: (w1,w2) bigram counts,
    # term unigram counts (x2 consumers), and the final per-doc rollup
    for k in keysets:
        assert k in (
            {"doc_id", "w1", "w2"},
            {"w1", "w2"},
            {"term"},
            {"doc_id"},
        ), keysets


def test_boilerplate_broadcast_mark_has_no_gram_keyed_join(spark):
    """plan='broadcast_mark' (q64's de-skew alternative): the occurrence
    stream must pick up its boilerplate flag via a BROADCAST join — no
    shuffle join keyed on the gram anywhere, so a web-scale hot shingle
    never concentrates a join task. The default 'join' plan keeps its
    gram-keyed shuffle (the AQE-skew case) — asserted as the contrast."""
    from noaa_oracle_spark.pipeline.text import boilerplate_ngram_stats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    marked = _plan(boilerplate_ngram_stats(docs, plan="broadcast_mark"))
    assert "BroadcastHashJoin" in marked
    assert "SortMergeJoin" not in marked
    import re

    shuffle_keys = [
        frozenset(re.findall(r"(\w+)#\d+", m))
        for m in re.findall(
            r"Exchange hashpartitioning\(([^)]*)\)", marked
        )
    ]
    # occurrence rows cross only the per-doc rollup exchange; the gram
    # key appears solely in the (bounded) frequency agg feeding the
    # broadcast side
    assert all(
        k == {"doc_id"} or "shingle" in k for k in shuffle_keys
    ), shuffle_keys
    joined = _plan(boilerplate_ngram_stats(docs))
    assert "hashpartitioning(shingle" in joined  # the contrast shape


def test_q122_kmv_gate_reuses_the_shingle_exchange(spark):
    """q122 grades the sketch BESIDE the exact distinct count, which
    evaluates the shingle-dedup subtree twice; the two subtrees are
    identical, so AQE must stitch them with a ReusedExchange (the PPJoin
    shared-stage behavior) — the gate then pays ONE gram shuffle, not
    two. Runtime-plan assertion: reuse appears only after execution."""
    from noaa_oracle_spark.suite_pipeline import q122_kmv_distinct

    df = q122_kmv_distinct(spark, "/root/testdata/sf0.001")
    df.collect()
    assert "ReusedExchange" in _plan(df)


def test_ivfpq_gates_have_no_corpus_joins(spark):
    """r9 plan pin (the r8 weak-flag fix): the IVF-PQ gate queries run
    the inline plan — between scan and candidate generation the corpus
    crosses ZERO joins (no BHJ→ArrowEvalPython shape, no encode⋈assign
    id join).  The only Join allowed anywhere in q116's plan is the
    rerank stage's broadcast refinement over bounded candidate lists."""
    from noaa_oracle_spark.suite_pipeline import (
        q101_ivfpq_knn,
        q104_ivfpq_residual,
        q116_ivfpq_rerank,
    )

    sf = "/root/testdata/sf0.001"
    for name, fn in (
        ("q101", q101_ivfpq_knn),
        ("q104", q104_ivfpq_residual),
    ):
        p = _plan(fn(spark, sf))
        assert "Join" not in p, f"{name}: corpus join reappeared\n{p}"
    p116 = _plan(q116_ivfpq_rerank(spark, sf))
    # nomination stage inline (no join feeding an ArrowEval); the exact
    # re-rank joins ONLY broadcast-sized candidate/query lists
    assert "BroadcastHashJoin" in p116
    assert "SortMergeJoin" not in p116 and "ShuffledHashJoin" not in p116
