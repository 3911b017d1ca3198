"""Physical-plan regression tests: the scale-critical plan shapes the
engine promises (broadcast dim joins, predicate pushdown, column
pruning, top-k without global sort) asserted via plans/inspect.py.

These run against sf0.001 — plan shape is data-size-independent here
because the dims are far below the broadcast threshold at every sf.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from nyc_opendata_etl_spark.operators.keys import assign_keys
from nyc_opendata_etl_spark.plans import inspect as pi
from nyc_opendata_etl_spark.queries import queries
from nyc_opendata_etl_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def test_assign_keys_broadcasts_the_dim(spark):
    fact = load_table(spark, SF, "orders").select(
        F.col("o_orderkey"), F.col("o_orderpriority").alias("prio")
    )
    dim = (
        load_table(spark, SF, "orders")
        .select(F.col("o_orderpriority").alias("prio"))
        .distinct()
        .withColumn("prio_key", F.lit(1))
    )
    out = assign_keys(fact, dim, ["prio"], "prio_key")
    assert pi.uses_broadcast_join(out)
    assert not pi.uses_sort_merge_join(out)


def test_filter_window_pushes_predicate_to_scan(spark):
    df = queries()["filter_window"](spark, SF)
    assert pi.has_pushed_filter(df, "o_orderdate")


def test_projection_prunes_scan_columns(spark):
    df = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    schemas = pi.read_schemas(df)
    assert schemas, "no parquet scan found"
    assert all(
        "l_orderkey" in s and "l_quantity" in s and "l_comment" not in s
        for s in schemas
    )


def test_topk_plans_as_take_ordered(spark):
    df = queries()["topk_orders"](spark, SF)
    assert pi.is_take_ordered(df)


def test_star_revenue_broadcasts_all_dim_joins(spark):
    df = queries()["star_revenue"](spark, SF)
    assert pi.uses_broadcast_join(df)
    assert not pi.uses_sort_merge_join(df)


def test_exact_dedup_is_single_shuffle(spark):
    df = queries()["dedup_exact"](spark, SF)
    # one hash-aggregate shuffle on the content hash; the spread()
    # round-robin repartition of the under-split local file adds one.
    assert pi.shuffle_count(df) <= 2


def test_q3_broadcasts_dims_and_takes_ordered(spark):
    df = queries()["q3_shipping_priority"](spark, SF)
    assert pi.uses_broadcast_join(df)
    assert pi.is_take_ordered(df)
    assert pi.has_pushed_filter(df, "l_shipdate")
    assert pi.has_pushed_filter(df, "o_orderdate")
    assert pi.has_pushed_filter(df, "c_mktsegment")


def test_q5_six_way_join_broadcasts_every_dim(spark):
    df = queries()["q5_local_supplier_volume"](spark, SF)
    assert pi.uses_broadcast_join(df)
    # only lineitem x orders may shuffle; every dim side broadcasts
    assert not pi.uses_sort_merge_join(df)
    assert pi.has_pushed_filter(df, "o_orderdate")


def _exact(df, node):
    """Count via the numbered detail header — one line per operator."""
    import re as _re
    return len(_re.findall(r"\(\d+\) " + node + r"\b", pi.formatted_plan(df)))


def test_sessionize_single_exchange_single_sort(spark):
    """Both window passes share one (user_id) partitioning+ordering:
    one shuffle, one sort, two Window nodes stacked on it."""
    df = queries()["events_sessionize"](spark, SF)
    assert pi.shuffle_count(df) == 1
    assert _exact(df, "Sort") == 1
    assert _exact(df, "Window") == 2


def test_unpivot_is_shuffle_free_single_scan(spark):
    df = queries()["unpivot_measures"](spark, SF)
    assert pi.shuffle_count(df) == 0
    assert _exact(df, "Scan parquet") == 1
    assert _exact(df, "Expand") == 1


def test_scd2_merge_single_join(spark):
    """One full-outer merge join over the current slice, versions fan
    out via Generate (explode), history bypasses the join entirely."""
    df = queries()["scd2_merge"](spark, SF)
    assert _exact(df, "SortMergeJoin") == 1
    assert _exact(df, "Generate") == 1
    assert not pi.uses_broadcast_join(df)  # full-outer can't broadcast


def test_array_hof_no_explode_regroup(spark):
    """The HOF pipeline must stay in the grouped array: the groupBy
    exchange only, and no Generate (explode) in the plan."""
    df = queries()["array_hof_pipeline"](spark, SF)
    assert pi.shuffle_count(df) <= 2  # spread() + groupBy
    assert _exact(df, "Generate") == 0


def test_interval_join_never_nested_loop(spark):
    """The bucketized interval join must be an equi hash join Catalyst
    can shuffle or broadcast — never BroadcastNestedLoopJoin/cartesian."""
    df = queries()["join_interval_bucketed"](spark, SF)
    assert _exact(df, "BroadcastNestedLoopJoin") == 0
    assert _exact(df, "CartesianProduct") == 0
    assert pi.uses_broadcast_join(df) or pi.uses_sort_merge_join(df)


def test_runtime_bloom_filter_prunes_shuffle_join_probe(spark):
    """When a selective dim filter exists but the dim cannot broadcast,
    Spark's runtime bloom-filter injection must pre-filter the fact
    side's shuffle input (the 100 TB shape: a semi-join reduction
    without reading the fact twice). Pinned with the application-side
    size gate lowered — at real scale the default 10 GB gate passes on
    its own."""
    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        li = load_table(spark, SF, "lineitem")
        o = load_table(spark, SF, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter" in plan.lower() or "bloomfilter" in plan.lower()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_pagerank_iterations_never_sort_merge(spark):
    """Every rank-side join in the PageRank loop must broadcast (the
    rank/contrib relations are bounded by |V|); the only exchanges
    allowed are the one-time edge build and its aggregates."""
    df = queries()["graph_pagerank_trade"](spark, SF)
    assert not pi.uses_sort_merge_join(df)
    assert pi.uses_broadcast_join(df)


def test_q18_having_subquery_is_broadcast_semi_join(spark):
    """The grouped-HAVING IN-subquery must lower to a LEFT SEMI
    BroadcastHashJoin (qualifying keys are tiny after HAVING) — never a
    sort-merge of orders against the subquery."""
    df = queries()["q18_large_volume_customer"](spark, SF)
    plan = pi.formatted_plan(df)
    assert "LeftSemi" in plan
    assert pi.uses_broadcast_join(df)
    assert not pi.uses_sort_merge_join(df)


def test_gapfill_has_no_self_join(spark):
    """LOCF gap fill must be one window over the densified spine — a
    join against the per-minute aggregate, but never a range self-join
    of the series against itself (the O(n^2) anti-pattern)."""
    df = queries()["events_gapfill_locf"](spark, SF)
    # one numbered Window operator in the detail section
    assert len(__import__("re").findall(r"\(\d+\) Window\b", pi.formatted_plan(df))) == 1
    # joins: spine LEFT JOIN per-minute aggregate + broadcast of the
    # 1-row bounds; never a range self-join of the series
    n_joins = (
        pi.count_node(df, "SortMergeJoin")
        + pi.count_node(df, "BroadcastHashJoin")
        + pi.count_node(df, "ShuffledHashJoin")
    )
    assert n_joins <= 2


def test_chunking_is_shuffle_free(spark):
    """chunk_documents is scan-stage-only: project + explode, zero
    exchanges (the registered query adds a spread repartition for local
    parallelism; the operator itself must not shuffle)."""
    from nyc_opendata_etl_spark.operators.curation import chunk_documents

    docs = load_table(spark, SF, "documents")
    assert pi.shuffle_count(chunk_documents(docs)) == 0


# --------------------------------------------------------------------------
# Round-5 TPC-H suite completion (queries/tpch.py) — every dimension side
# broadcasts, correlated/EXISTS subqueries lower to semi/anti hash joins,
# and the two ordered-limit queries plan as TakeOrderedAndProject.
# --------------------------------------------------------------------------


def test_tpch_suite_never_sort_merges(spark):
    """At test scale every non-fact side is sub-threshold, so any
    SortMergeJoin means a broadcast or semi/anti lowering regressed.
    Since the r14 review the SF-scaling sides are UNHINTED (a forced
    broadcast is a 100 TB OOM cliff), so the STATIC plan may
    conservatively pick SortMergeJoin where a join-output's size
    estimate is inflated — the contract is therefore the ADAPTIVE
    FINAL plan (execute, then inspect): AQE must convert every such
    join to broadcast from runtime sizes at this scale."""
    qs = queries()
    for name in (
        "q4_order_priority",
        "q7_volume_shipping",
        "q8_market_share",
        "q10_returned_items",
        "q12_latency_priority",
        "q14_promo_revenue",
        "q15_top_supplier",
        "q17_small_quantity_revenue",
        "q19_discounted_revenue",
        "q21_waiting_supplier",
        "q22_global_sales",
        # round-6 derived-partsupp completion
        "q2_min_cost_supplier",
        "q9_product_profit",
        "q11_important_stock",
        "q16_supplier_part_counts",
        "q20_promotion_candidates",
    ):
        assert not pi.final_uses_sort_merge_join(qs[name](spark, SF)), name


def test_q4_exists_lowers_to_semi_join(spark):
    df = queries()["q4_order_priority"](spark, SF)
    plan = pi.formatted_plan(df)
    assert "LeftSemi" in plan
    assert pi.has_pushed_filter(df, "o_orderdate")


def test_q6_pushes_all_three_predicates(spark):
    df = queries()["q6_forecast_revenue"](spark, SF)
    assert pi.has_pushed_filter(df, "l_shipdate")
    assert pi.has_pushed_filter(df, "l_discount")
    assert pi.has_pushed_filter(df, "l_quantity")
    # filtered scan + one partial/final aggregate pair: single exchange
    assert pi.shuffle_count(df) <= 1


def test_q10_top20_is_take_ordered(spark):
    df = queries()["q10_returned_items"](spark, SF)
    assert pi.is_take_ordered(df)
    assert pi.has_pushed_filter(df, "l_returnflag")
    assert pi.uses_broadcast_join(df)


def test_q17_correlated_avg_is_one_aggregate_no_rescan(spark):
    """The per-part average must come from ONE aggregate joined back —
    three scans max (part, lineitem for the semi, lineitem for the
    threshold build) and no nested-loop join."""
    df = queries()["q17_small_quantity_revenue"](spark, SF)
    plan = pi.formatted_plan(df)
    assert "LeftSemi" in plan
    assert pi.count_node(df, "BroadcastNestedLoopJoin") == 0
    assert pi.shuffle_count(df) <= 2


def test_q19_derives_brand_filter_into_part_scan(spark):
    """Catalyst must extract the implied p_brand IN (...) from the OR of
    conjunctions and push it into the part scan."""
    df = queries()["q19_discounted_revenue"](spark, SF)
    assert pi.has_pushed_filter(df, "p_brand")


def test_q21_windowed_qualification_plan(spark):
    """One aggregate + windows over the same partitioning — the window
    pair must share a single exchange on l_orderkey (no re-shuffle
    between the two window steps), then TakeOrderedAndProject."""
    df = queries()["q21_waiting_supplier"](spark, SF)
    assert pi.is_take_ordered(df)
    assert not pi.uses_sort_merge_join(df)
    assert pi.shuffle_count(df) <= 3


def test_scd2_point_in_time_join_is_aqe_decided(spark):
    """r16 (VERDICT r15 item 2): the versioned dim is built from the
    FULL customer table, so it scales with SF and must carry NO forced
    broadcast hint — AQE decides from runtime sizes. Pin: the logical
    plan carries no hint, the join stays an EQUI hash join with the
    validity interval as a residual (never BroadcastNestedLoopJoin),
    and at test scale the adaptive final plan still broadcasts."""
    df = queries()["scd2_point_in_time"](spark, SF)
    assert "UnresolvedHint" not in df._jdf.queryExecution().logical().toString()
    assert pi.count_node(df, "BroadcastNestedLoopJoin") == 0
    assert not pi.final_uses_sort_merge_join(df)


def test_q22_not_exists_is_anti_join_with_pushed_date(spark):
    df = queries()["q22_global_sales"](spark, SF)
    plan = pi.formatted_plan(df)
    assert "LeftAnti" in plan
    assert pi.has_pushed_filter(df, "o_orderdate")
    assert not pi.uses_sort_merge_join(df)


def test_single_window_pass_operators(spark):
    """cdc_apply_changelog and events_attribution are one-shuffle
    single-window-pass operators: exactly one exchange (the key
    partitioning) and one Window node — any join or second sort
    appearing here is a regression to the self-join formulation."""
    import re

    qs = queries()
    for name in ("cdc_apply_changelog", "events_attribution"):
        df = qs[name](spark, SF)
        plan = pi.formatted_plan(df)
        assert pi.shuffle_count(df) == 1, name
        assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1, name
        assert pi.count_node(df, "Join") == 0, name


def test_weighted_sample_is_map_side_only(spark):
    """The hash-accept sampler must be a pure scan-stage filter: zero
    exchanges, zero joins."""
    df = queries()["corpus_sample_weighted"](spark, SF)
    assert pi.shuffle_count(df) == 0
    assert pi.count_node(df, "Join") == 0


def test_ann_recall_both_topks_take_ordered(spark):
    """Both the exact and the LSH top-10 must plan as
    TakeOrderedAndProject (never a global sort), and the intersection
    count must not sort-merge."""
    df = queries()["similarity_ann_recall"](spark, SF)
    assert pi.count_node(df, "TakeOrderedAndProject") >= 2
    assert not pi.uses_sort_merge_join(df)


def test_kmeans_update_never_shuffles_to_assign(spark):
    """Centroid assignment is a broadcast cross product scored in-stage;
    the only exchanges allowed are the spread repartition, the per-vector
    argmin window, and the k x dim mean aggregate — never a sort-merge
    join of vectors against centroids."""
    df = queries()["embedding_kmeans_update"](spark, SF)
    assert not pi.uses_sort_merge_join(df)
    assert pi.shuffle_count(df) <= 4


def test_runtime_bloom_filter_injects_on_selective_shuffle_join(spark):
    """When a fact⨝dim join is too big to broadcast, Spark's runtime
    bloom-filter rewrite must inject a bloom_filter_agg over the
    selective side and a might_contain semi-filter on the fact scan —
    the shuffle-join fallback the engine relies on at 100 TB, where
    even "small" sides exceed the broadcast threshold. Pinned here with
    the size thresholds scaled to the test data (at production scale
    the defaults — 10 MB creation side, 10 GB application side — fire
    on exactly this shape without any tuning)."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        assert (
            spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled")
            == "true"
        )
        li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
        o = (
            load_table(spark, SF, "orders")
            .filter(F.col("o_orderpriority") == "1-URGENT")
            .select("o_orderkey", "o_orderpriority")
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = j._jdf.queryExecution().executedPlan().toString().lower()
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_bucketed_tables_join_without_exchange(spark, tmp_path):
    """Co-bucketed fact tables must sort-merge join with NO Exchange on
    either side: the shuffle was paid once at write time. This is the
    amortization bucketing buys on a repeated join key at scale."""
    from nyc_opendata_etl_spark.sources.sinks import write_bucketed

    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, SF, "orders").select("o_orderkey", "o_totalprice")
    try:
        write_bucketed(li, "t_li_b", ["l_orderkey"], 4, str(tmp_path / "li"))
        write_bucketed(o, "t_o_b", ["o_orderkey"], 4, str(tmp_path / "o"))
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = spark.table("t_li_b").join(
                spark.table("t_o_b"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan
            assert "Bucketed: true" in plan
            # and the data is actually intact
            assert j.count() == li.count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_li_b")
        spark.sql("DROP TABLE IF EXISTS t_o_b")


def test_round6_closing_queries_never_sort_merge_join(spark):
    """The closing round-6 queries must keep their joins broadcast (or
    join-free): codebooks, LUTs, totals, probes, and dim keys are all
    provably bounded relations, so a SortMergeJoin anywhere means a
    broadcast was lost. (similarity_ivfpq_topk is exempt: its
    codes-to-candidates semi join pairs two corpus-sized relations, so
    a sort-merge fallback there is the CORRECT plan at scale — AQE
    upgrades it to broadcast at bench scale.)"""
    for name in (
        "similarity_pq_encode",
        "embedding_gramian",
        "sketch_bitmap_distinct",
        "corpus_mix_temperature",
        "dim_late_arriving",
        "layout_zorder_locality",
    ):
        df = queries()[name](spark, SF)
        assert not pi.uses_sort_merge_join(df), name


def test_parquet_aggregate_pushdown_answers_from_footers(spark):
    """With the v2 parquet source, global COUNT/MIN/MAX must push into
    the scan (PushedAggregation in the BatchScan) and answer from file
    footers — at scale a metadata read instead of a table scan. The
    engine's scans stay on v1 by default; this pins that the footer
    path is available and correct when a caller opts in."""
    confs = {
        "spark.sql.sources.useV1SourceList": "",
        "spark.sql.parquet.aggregatePushdown": "true",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df = spark.read.parquet(f"{SF}/orders.parquet")
        df.createOrReplaceTempView("__agg_pd__")
        out = spark.sql(
            "SELECT count(*) AS n, min(o_totalprice) AS mn, "
            "max(o_totalprice) AS mx FROM __agg_pd__"
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "PushedAggregation" in plan
        row = out.collect()[0]
        ref = (
            load_table(spark, SF, "orders")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min("o_totalprice").alias("mn"),
                F.max("o_totalprice").alias("mx"),
            )
            .collect()[0]
        )
        assert (row["n"], row["mn"], row["mx"]) == (ref["n"], ref["mn"], ref["mx"])
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_packed_bloom_probe_is_scan_local(spark):
    """join_bloom_packed's probe must filter the fact BEFORE any
    fact-side Exchange: the packed-bitset word-load test (get + shift
    + AND inside forall) rides the BroadcastNestedLoopJoin condition
    directly over the lineitem FileScan, so non-candidates never
    shuffle. A regression that materializes the probe after an
    exchange (or falls back to a non-broadcast join for the 1-row
    bitset) defeats the whole reduction at 100 TB."""
    df = queries()["join_bloom_packed"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the probe expression (shiftleft word test) appears as a join
    # condition over the scan, not as a post-shuffle filter
    probe_at = plan.find("shiftleft")
    scan_at = plan.find("FileScan parquet [l_suppkey")
    assert probe_at != -1 and scan_at != -1
    # the probe must print BEFORE the scan (parent above child) — a
    # reversed order would make the between-window empty and the
    # no-Exchange assertion below vacuous (ADVICE r8)
    assert probe_at < scan_at, (probe_at, scan_at)
    # between the probe condition and the fact scan there is no
    # Exchange: the first Exchange in the plan text after the probe
    # node must come after the scan (plan prints children below
    # parents, so text order follows execution nesting)
    between = plan[probe_at:scan_at]
    assert "Exchange" not in between.replace("BroadcastExchange", ""), between
    # and the bitset side arrives by broadcast, never a shuffle join
    assert "BroadcastNestedLoopJoin" in plan
    assert not pi.uses_sort_merge_join(df)


# ── bounded-global-window pin (round 12, VERDICT r11 item 7) ────────
# A partition-less Window is a single-task sort: every site must prove
# its input bounded or be a documented exact anchor with a registered
# approx twin. tools/plan_census.py sweeps the whole registry; these
# are ALL the queries in its global_windows summary, pinned. A new
# global window anywhere must be added here with its justification —
# the audit class is the mechanical half, the comment is the human half.
_GLOBAL_WINDOW_SITES = {
    # priority sampling: window over an orderBy().limit() candidate set
    "corpus_sample_priority": ["limit"],
    # RRF fuses two top-k lists — each a GlobalLimit relation
    "search_hybrid_rrf": ["limit", "limit"],
    # cross-encoder rerank: three windows, all over the top-20
    # first-stage candidate list (the pattern this pin generalizes)
    "search_rerank_crossenc": ["limit", "limit", "limit"],
    # round-robin domain interleave: the global row_number runs over
    # SELECT DISTINCT source — bounded by the corpus's domain
    # cardinality (single-digit source names), not its row count
    "corpus_curriculum_order": ["grouped_agg"],
    # exact equi-depth ntile — the DOCUMENTED single-task anchor; the
    # registered scale twin is stats_equidepth_bins_approx (sketch cut
    # points + range binning, no global sort)
    "stats_equidepth_bins": ["unbounded"],
}


def test_global_windows_are_bounded(spark):
    for name, expected in _GLOBAL_WINDOW_SITES.items():
        got = pi.global_window_classes(queries()[name](spark, SF))
        assert got == expected, (name, got, expected)
    # the one allowed 'unbounded' anchor must keep pointing at its twin
    from nyc_opendata_etl_spark.queries import REGISTRY

    assert "stats_equidepth_bins_approx" in REGISTRY
    doc = queries()["stats_equidepth_bins"].__doc__ or ""
    assert "approx" in doc, "anchor must document its scale twin"


# Queries whose plans deliberately contain a non-equi join (crossJoin
# of a broadcast stats/bounds relation, theta band join, bloom
# candidate math…). Each must plan as BroadcastNestedLoopJoin — never
# CartesianProductExec, the unbounded all-pairs node. Registry-wide
# ground truth: the cartesian list of tools/plan_census.py (empty);
# this pin keeps the deliberate-cross-join set honest in the suite,
# the tool+pin shape of the global-window audit.
_CROSS_JOIN_QUERIES = [
    "join_range",
    "market_basket_pairs_relative",
    "stats_equidepth_bins_approx",
    "sketch_bitmap_distinct",
    "join_bloom_prefiltered",
    "join_bloom_packed",
    "graph_triangles",
    "agg_approx_distinct",
    "search_rerank_crossenc",
    "stats_chi2_contingency",
    "layout_zorder_locality",
    "events_funnel",
]


def test_no_cartesian_products(spark):
    for name in _CROSS_JOIN_QUERIES:
        df = queries()[name](spark, SF)
        assert _exact(df, "CartesianProduct") == 0, name
