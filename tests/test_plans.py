"""Physical-plan regression tests: the scale story (broadcasts, pushdown,
top-k, no-cartesian, bucketing) is asserted, not just documented in
PLANS.md — a refactor that silently degrades a plan shape fails here.
"""

from __future__ import annotations

import pytest

from distributed_graph_database_system_spark.queries.registry import all_queries
from distributed_graph_database_system_spark.sources.layout import physical_plan


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    """Formatted plans for the audited queries, memoized per module run."""
    registry = all_queries()
    cache: dict[str, str] = {}

    def plan_of(name: str) -> str:
        if name not in cache:
            cache[name] = physical_plan(registry[name].fn(spark, sf_dir))
        return cache[name]

    return plan_of


def test_q1_pushes_filter_and_prunes_columns(plans):
    p = plans("q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate)" in p
    # column pruning: the scan must not read the join keys it doesn't need
    assert "l_comment" not in p


def test_q3_uses_topk_not_global_sort(plans):
    assert "TakeOrderedAndProject" in plans("q3_shipping_priority")


def test_q5_broadcasts_bounded_dims(plans):
    p = plans("q5_local_supplier_volume")
    assert p.count("BroadcastHashJoin") >= 2  # region + nation at least


def test_theta_join_is_not_cartesian(plans):
    p = plans("join_theta")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_range_join_rides_equi_bucket(plans):
    p = plans("join_range_bucketed")
    assert "CartesianProduct" not in p
    assert "Join" in p


def test_minhash_python_boundaries_are_arrow_only(plans):
    p = plans("dedup_minhash_lsh")
    # Arrow-vectorized nodes are the ONLY sanctioned Python boundary
    assert "ArrowEvalPython" in p
    assert "BatchEvalPython" not in p  # row-at-a-time Python UDF


def test_minhash_candidate_job_hashes_the_corpus_once(spark, sf_dir):
    """The candidate self-join's two sides share one shuffle exchange, so
    the shingle and signature UDFs run over the corpus once: the final AQE
    plan of the ``localCheckpoint`` job holds exactly one
    ``ArrowEvalPython [sig(sh(...))]`` and one ``ReusedExchange``. A
    broadcast side would re-run both UDFs in a job of its own (the band
    table is far under the broadcast threshold at this scale)."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def latest(k):
        # the store keeps only the last spark.sql.ui.retainedExecutions, in
        # execution-id order, so index from its end
        n = int(store.executionsCount())
        execs = store.executionsList(max(n - k, 0), min(n, k))
        return [execs.apply(i) for i in range(execs.size())]

    bus.waitUntilEmpty()
    before = max((e.executionId() for e in latest(1)), default=-1)
    all_queries()["dedup_minhash_lsh"].fn(spark, sf_dir).collect()
    bus.waitUntilEmpty()
    ran = [e for e in latest(10) if e.executionId() > before]
    descs = [
        e.physicalPlanDescription()
        for e in ran
        if e.description().startswith("localCheckpoint")
    ]
    assert len(descs) == 1, [e.description() for e in ran]
    final = descs[0].split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    assert final.count("ArrowEvalPython") == 1, final
    assert final.count("ReusedExchange") == 1, final
    assert "Arguments: [sig(sh(" in descs[0]


def test_sort_topk_is_take_ordered(plans):
    assert "TakeOrderedAndProject" in plans("sort_topk")


def test_bucketed_join_scans_report_buckets(plans):
    p = plans("layout_bucketed_join")
    assert "SelectedBucketsCount" in p
    assert "SortMergeJoin" in p


def test_knn_join_broadcasts_queries_and_partitions_topk_by_query(plans):
    """The KNN join must broadcast the small query batch (the corpus scan
    never shuffles for scoring) and take per-query top-k through a window
    PARTITIONED by q_id — a global-sort or single-partition window here
    would be the 100 TB bottleneck."""
    p = plans("sim_knn_join")
    assert "Broadcast" in p
    assert "partitionspec=[q_id" in p.replace(" ", "").lower() or "hashpartitioning(q_id" in p.replace(" ", "").lower(), p


def test_multimodal_real_decode_is_arrow_batched(plans):
    p = plans("multimodal_decode_real")
    # synth + decode are mapInPandas stages (Arrow-streamed), never
    # row-at-a-time Python
    assert "MapInPandas" in p or "ArrowEvalPython" in p
    assert "BatchEvalPython" not in p


def test_runtime_bloom_filter_fires_on_selective_dim_join(spark, sf_dir):
    """Runtime bloom-filter join pruning (on by default in Spark 4) injects
    a bloom_filter_agg of the filtered dim's keys into the fact scan — the
    shuffle-join analogue of dynamic partition pruning. At 100 TB the
    default size thresholds decide when it pays; here a sibling session
    widens the creation-side cap (10 MB → 100 MB) and zeroes the
    application-side scan floor (10 GB → 0) so the tiny fixture join
    qualifies, proving the engine's plans are eligible."""
    from pyspark.sql import functions as F

    ns = spark.newSession()
    for k, v in {
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # shuffle join, not broadcast
    }.items():
        ns.conf.set(k, v)
    o = ns.read.parquet(f"{sf_dir}/orders.parquet").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    li = ns.read.parquet(f"{sf_dir}/lineitem.parquet")
    j = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).groupBy(
        "o_orderpriority"
    ).count()
    p = physical_plan(j)
    assert "bloomfilter" in p.lower().replace("_", "").replace(" ", ""), p[:2000]


def test_ranking_broadcasts_term_stats_and_takes_topk(plans):
    """TF-IDF/BM25: the per-term df dim (3 rows) and corpus scalars must
    ride broadcast joins — the only corpus-sized shuffles are the (doc,
    term) counts — and the final ranking must be TakeOrderedAndProject
    (top-15 over the doc scores), never a global sort."""
    for name in ("text_tfidf_rank", "text_bm25_rank"):
        p = plans(name)
        assert "BroadcastHashJoin" in p, name
        assert "TakeOrderedAndProject" in p, name
        assert "CartesianProduct" not in p, name
        assert "BatchEvalPython" not in p, name  # pure JVM expressions


def test_pmi_and_index_build_stay_jvm_side(plans):
    """Bigram extraction/explode and posting-list aggregation are JVM
    codegen expressions — no Python anywhere — and top-k is TakeOrdered."""
    for name in ("token_pmi_bigrams", "inverted_index_postings"):
        p = plans(name)
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, name
        assert "TakeOrderedAndProject" in p, name


def test_outlier_broadcasts_group_stats(plans):
    """The per-event_type stats dim (5 rows) must broadcast back onto the
    event stream; the extreme-value cut is TakeOrdered, not a sort."""
    p = plans("outlier_zscore_events")
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p


def test_markov_is_single_window_no_join(plans):
    """The transition matrix is window + aggregate over ONE events scan —
    any join appearing here means the plan regressed to a self-join."""
    p = plans("events_markov_transitions")
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p


def test_linkage_joins_only_on_block_key(plans):
    """Record linkage must join on the block key (a hash/broadcast equi
    join), never devolve to a nested-loop cross product."""
    p = plans("linkage_blocked_best_match")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_dynamic_partition_pruning_fires_on_partitioned_fact(spark, sf_dir, tmp_path):
    """Dynamic partition pruning: joining a day-partitioned fact to a dim
    with a selective literal filter must inject
    dynamicpruningexpression(day IN dynamicpruning#N) into the fact scan's
    PartitionFilters — at 100 TB this skips whole partition directories at
    runtime, the single biggest scan saver for star joins.

    Gotcha this test pins down: the dim filter must survive as an
    EqualTo(attr, literal) — a bare boolean column (`WHERE flag`, what
    `flag = true` simplifies to) fails Catalyst's isLikelySelective test
    and silently disables DPP."""
    from pyspark.sql import functions as F

    fact_path, dim_path = str(tmp_path / "fact"), str(tmp_path / "dim")
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    e.select("event_id", "value", F.to_date(F.col("ts").cast("timestamp")).alias("day")) \
        .write.mode("overwrite").partitionBy("day").parquet(fact_path)
    f = spark.read.parquet(fact_path)
    f.select("day").distinct().select(
        "day",
        F.when(F.dayofmonth("day") <= 3, "keep").otherwise("drop").alias("grp"),
    ).write.mode("overwrite").parquet(dim_path)
    d = spark.read.parquet(dim_path).where(F.col("grp") == "keep")
    j = f.join(d, "day").groupBy("day").agg(F.sum("value").alias("sv"))
    p = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in p.lower(), p[:2000]


def test_shuffle_hash_hint_is_honored(plans, spark, sf_dir):
    """The hinted join must plan as ShuffledHashJoin — not SMJ (whose two
    sort passes the hint exists to skip) and not broadcast (which would
    make the hint moot). Checked with broadcast suppressed so the fixture
    sizes can't promote the build side."""
    from pyspark.sql import functions as F

    from distributed_graph_database_system_spark.queries.registry import all_queries
    from distributed_graph_database_system_spark.sources.layout import physical_plan

    ns = spark.newSession()
    ns.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    li = ns.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = ns.read.parquet(f"{sf_dir}/orders.parquet").where(
        F.col("o_orderstatus") == "F"
    ).hint("shuffle_hash")
    p = physical_plan(li.join(o, li["l_orderkey"] == o["o_orderkey"]))
    assert "ShuffledHashJoin" in p
    assert "SortMergeJoin" not in p


def test_group_quantiles_scalable_uses_range_partition_and_broadcasts(plans):
    """The bounded-state exact-quantile path must show its design in the
    plan: a RANGE partitioning exchange (contiguous value spans per
    task), broadcast joins for the offsets/bracketing-targets tables
    (never a shuffle join against the ranked corpus), and zero Python."""
    p = plans("agg_group_quantiles_scalable")
    assert "rangepartitioning" in p.lower(), p[:2000]
    assert "BroadcastHashJoin" in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_perplexity_is_jvm_side_with_topk(plans):
    """Unigram surprisal: top-15 must be TakeOrderedAndProject (no global
    sort), scoring entirely JVM-side."""
    p = plans("text_perplexity_unigram")
    assert "TakeOrderedAndProject" in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_asof_nearest_is_single_union_window_no_cartesian(plans):
    """The merge_asof-style nearest join must stay the union + window
    formulation: no CartesianProduct / BroadcastNestedLoopJoin (a naive
    time-range join would degrade to one), both direction windows reusing
    the user_id partitioning."""
    p = plans("join_asof_nearest")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert p.count("Window") >= 2  # backward + forward in one pass


def test_chunking_is_shuffle_free_fanout(plans):
    """Sliding-window chunking is a pure map-side fan-out: the only
    exchange allowed is the final presentation sort's range partitioning;
    no hash-partition exchange, no Python nodes."""
    p = plans("chunk_documents_overlap")
    assert "hashpartitioning" not in p.lower(), p[:1500]
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_rank_filter_topk_shapes_keep_limit_pushdown(plans):
    """The global rank-then-filter top-k shapes are scale-safe ONLY
    because Catalyst rewrites them to TakeOrderedAndProject(limit=k)
    feeding the single-partition window (k rows, not the table). That
    property is one optimizer-rule change away from silently becoming a
    full single-partition sort — pin it."""
    for name in (
        "orders_hill_tail_index",  # Hill estimator over top-k tail
        "corpus_zipf_slope",  # OLS over top-k token ranks
        "text_keywords_textrank",  # top-300 vocabulary cap
    ):
        assert "TakeOrderedAndProject" in plans(name), name


def test_gini_prefix_sum_has_no_data_sized_global_window(plans):
    """supplier_revenue_gini ranks via the two-pass partitioned prefix
    sum (operators/prefix.py): the ONLY Window in the visible plan runs
    over per-partition totals (<= #shuffle-partitions rows, summing
    _ptotal), offsets come back via a broadcast join, and the data-sized
    local running count is pinned behind the localCheckpoint barrier
    (Scan ExistingRDD). A regression to ROW_NUMBER over the global
    (rev, suppkey) order — a single-partition window over all suppliers
    — would surface as a row_number Window here and fail loudly."""
    p = plans("supplier_revenue_gini")
    assert p.count(") Window") == 1, p
    assert "sum(_ptotal" in p  # the one window is over per-partition totals
    assert "row_number" not in p.lower()  # no global-order rank window
    assert "BroadcastHashJoin" in p  # offsets join is broadcast
    assert "Scan ExistingRDD" in p  # checkpoint barrier pins the pairing


def test_lateral_decorrelates_to_window_group_limit(plans):
    """The LATERAL correlated top-2 subquery must decorrelate: Catalyst
    rewrites it to WindowGroupLimit (partial on the map side, final after
    one exchange — per-group top-k without ranking whole partitions) plus
    a broadcast join against the filtered customer side. A regression to
    per-outer-row re-execution would surface as a nested-loop/cartesian
    shape here."""
    p = plans("customer_recent_orders_lateral")
    assert "WindowGroupLimit" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p


def test_stratified_sample_uses_window_group_limit(plans):
    """The md5-stratified sampler's rank filter must plan as partial+final
    WindowGroupLimit (per-partition top-40, then final) — never a full
    per-stratum sort, which would single-task each stratum at scale."""
    p = plans("sample_stratified_topk_events")
    # formatted plans list nodes in both the tree and the details section;
    # partial+final shows as ≥2 distinct WindowGroupLimit mentions and the
    # Partial marker must be present
    assert p.count("WindowGroupLimit") >= 2, p
    assert "Partial" in p, p


def test_anti_join_build_side_is_prefiltered(plans):
    """suppliers_without_returns_anti: the returnflag predicate must reach
    the lineitem SCAN (PushedFilters), so the anti join's build input is
    the returned-rows subset, not the full fact table."""
    p = plans("suppliers_without_returns_anti")
    assert "LeftAnti" in p
    assert "EqualTo(l_returnflag,R)" in p, p


def test_band_self_join_rides_the_brand_equi_key(plans):
    """parts_price_band_within_brand: the band predicate must ride a hash
    join on the brand equi-conjunct — never a cartesian/nested-loop over
    the part table."""
    p = plans("parts_price_band_within_brand")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_decile_twin_has_no_data_sized_window(plans):
    """orders_price_decile_buckets_scalable: the bucket-assignment pass
    must be comparisons against a broadcast cut table; the only windows
    allowed are the cut computation's partition-bounded local ranks and
    span offsets (group_quantiles_disc), never a window partitioned by
    the 5-value priority key over the raw orders rows."""
    p = plans("orders_price_decile_buckets_scalable")
    # ntile would appear if the twin regressed to the fixture-only shape
    assert "ntile" not in p.lower()
    assert "BroadcastHashJoin" in p  # broadcast cut-table join


def test_merge_upsert_is_one_full_outer_keyed_join(plans):
    """The MERGE simulation must stay a single keyed full-outer join —
    never a cartesian/NL fallback — with the year filters pushed to the
    orders scans."""
    p = plans("orders_merge_upsert_sim")
    assert "FullOuter" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "PushedFilters" in p


def test_values_dim_decode_broadcasts(plans):
    """The 5-row literal dimension must ride a BroadcastHashJoin: the
    orders scan is never shuffled for an enum decode."""
    p = plans("dim_values_broadcast_decode")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_kmeans_centroid_joins_are_broadcast(plans):
    """Both Lloyd rounds join exploded vectors against k x dims centroid
    tables — all centroid joins must broadcast (the vector side is the
    data-sized one), and no Python boundary exists anywhere."""
    p = plans("embed_kmeans_two_rounds")
    assert p.count("BroadcastHashJoin") >= 2
    assert "BatchEvalPython" not in p
    assert "ArrowEvalPython" not in p


def test_pivot_two_measures_is_single_aggregate_pass(plans):
    """Explicit pivot values compile to conditional aggregates over ONE
    lineitem scan (formatted plans list each node twice: tree + detail) —
    no distinct-values pre-query, no per-measure rescan."""
    p = plans("lineitem_pivot_two_measures")
    assert p.count("Scan parquet") == 2  # one node, two listings


def test_concurrency_sweep_window_is_partitioned_by_day(plans):
    """The sweep-line running sum partitions by day — a refactor to a
    global (single-partition) window would serialize the whole stream.
    The windowspecdefinition must lead with the day partition key."""
    p = plans("events_concurrency_peak")
    import re

    assert re.search(r"windowspecdefinition\(day#", p)


def test_theil_sen_pairs_enumerate_post_aggregate(plans):
    """The O(days^2) slope enumeration must happen via the broadcast NL
    join over the localCheckpointed DAILY aggregate — the orders scan is
    materialized once, so NO parquet scan appears in the pair-join plan."""
    p = plans("orders_theil_sen_daily")
    assert "Scan parquet" not in p  # daily agg is checkpointed upstream
    assert "Scan ExistingRDD" in p
    assert "BroadcastNestedLoopJoin" in p


def test_topk_per_region_uses_window_group_limit(plans):
    """The rank()<=3 filter must compile to WindowGroupLimit (partial
    per-task top-k BEFORE the shuffle) — the round-12 window's top-k
    anchor; a plain WindowExec here would sort whole regions in one task."""
    p = plans("topk_parts_per_region_rank")
    assert "WindowGroupLimit" in p


def test_pruned_projection_roundtrip_prunes_and_pushes(plans):
    """The wide-table read-back must prune to the two answered columns
    (no w_* computed column survives into ReadSchema) and push the price
    filter into the parquet scan."""
    p = plans("source_parquet_pruned_projection_roundtrip")
    assert "PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice" in p
    assert "w_key_md5" not in p
    assert "w_double_price" not in p


def test_price_band_dim_is_broadcast_nested_loop(plans):
    """The 5-row band dim theta join must ride BroadcastNestedLoopJoin —
    the banding plan that never shuffles the fact."""
    p = plans("orders_price_band_dim_range")
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_nearest_hub_assignment_is_broadcast(plans):
    """Nearest-hub argmin: hub dim broadcast, no cartesian, struct-min
    aggregation (no per-user window)."""
    p = plans("events_nearest_hub_assignment")
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p
    assert "WindowExec" not in p and "Window\n" not in p
