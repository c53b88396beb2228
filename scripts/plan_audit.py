#!/usr/bin/env python
"""Regenerate PLANS.md: physical-plan audit of the headline queries.

Usage: python scripts/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import contextlib
import io
import re
import sys

sys.path.insert(0, ".")

from distributed_graph_database_system_spark.queries.registry import all_queries  # noqa: E402
from distributed_graph_database_system_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q6_forecast_revenue", "q10_returned_items", "q7_nation_volume",
    "agg_cube", "agg_salted_skew", "window_rank", "window_range_frame",
    "topk_per_group", "join_asof", "sessionize", "join_range_bucketed",
    "join_theta", "agg_median", "dedup_exact", "dedup_minhash_lsh",
    "sim_topk_bruteforce",
    "text_quality", "text_fingerprint", "stream_tumbling_counts",
    "graph_degrees_custsupp", "graph_bfs_cosupply",
    # round-4 additions: heaviest adapted-TPC-H shapes + pipeline ops
    "q2_min_cost_supplier", "q8_market_share", "q9_profit_by_nation_year",
    "q21_waiting_suppliers", "dedup_ngram_jaccard", "dedup_clusters",
    "decontaminate_holdout", "quality_filter_funnel", "pii_redact",
    "sample_stratified",
    # round-5 additions: data-layout family
    "layout_bucketed_join", "layout_partition_pruned",
    # round-7 additions: retrieval/analysis + sketch + graph-expansion
    "text_tfidf_rank", "text_bm25_rank", "token_pmi_bigrams",
    "inverted_index_postings", "events_markov_transitions",
    "outlier_zscore_events", "linkage_blocked_best_match",
    "graph_link_prediction", "graph_two_hop_counts",
    "sketch_cm_heavy_hitters",
    # round-7 late additions
    "join_interval_overlap", "join_hash_hinted", "orders_abc_pareto",
    "events_rfm_segments", "events_mad_outliers", "embed_covariance",
    "embed_standardize", "graph_motif_feedforward",
    "source_refgraph_roundtrip",
    # round-6 additions: scalable exact quantiles + cut-table RFM +
    # asof/nearest, LM surprisal, chunking, survivor pick, deep audio,
    # basket mining
    "agg_group_quantiles_scalable", "events_rfm_segments_scalable",
    "join_asof_nearest", "text_perplexity_unigram",
    "chunk_documents_overlap", "dedup_survivor_quality",
    "multimodal_deep_audio", "basket_part_pairs", "linkage_name_editdist",
    "join_bloom_reduced", "dedup_substring_docfrac", "intervals_merge",
    "skyline_by_brand", "featurize_hashing_trick", "events_pattern_match",
    "sample_weighted_priority", "corpus_kl_divergence",
    "events_audience_overlap", "events_cumulative_distinct",
    # round-7 additions: KMV/bitmap sketch queries, exact heavy hitters,
    # OLS normal equations, quality audits, TextRank, diameter sweep
    "events_overlap_kmv", "events_sliding7_bitmap_exact",
    "events_dod_retention_kmv", "events_heavy_hitters_rescan",
    "lineitem_ols_normal_eq", "ri_orphan_audit", "fd_violation_audit",
    "text_keywords_textrank", "events_sliding7_quantiles_hist",
    "events_twap_daily", "part_xyz_classification",
    "embed_similarity_histogram", "embed_centroid_classifier_eval",
    "orders_bootstrap_ci_mean", "events_attribution_last_touch",
    "corpus_mix_plan", "events_forecast_backtest",
    # round-11 additions: MERGE full-outer, inline-VALUES broadcast dim,
    # aggregate-then-enumerate pairwise stats, k-means joins, prefix-filter
    # sweep, sweep-line window, centroid silhouette
    "orders_merge_upsert_sim", "dim_values_broadcast_decode",
    "orders_theil_sen_daily", "embed_kmeans_two_rounds",
    "embed_silhouette_simplified", "corpus_jaccard_band_sweep",
    "events_concurrency_peak", "lineitem_pivot_two_measures",
]

HEADER = [
    "# PLANS — physical-plan audit of the headline queries",
    "",
    "Auto-generated by `scripts/plan_audit.py` (re-run after plan-affecting",
    "changes). For each headline query: join strategies, scan pushdown, and",
    "Python-boundary nodes, from `.explain('formatted')` at sf0.01, plus the",
    "final plan of every SQL execution the query's build runs eagerly (a",
    "`localCheckpoint` or probe inside `spec.fn`, such as",
    "`dedup_minhash_lsh`'s candidate self-join), read from the SQL status",
    "store. Sections after the table's notes are hand-written and kept.",
    "",
    "Reading guide: `BroadcastHashJoin` = small side broadcast (no fact",
    "shuffle); `SortMergeJoin`/`ShuffledHashJoin` = shuffle joins AQE can",
    "reshape; `ReusedExchange` = one shuffle read by two plan branches;",
    "`PushedFilters`/`ReadSchema` show predicate pushdown and column",
    "pruning reaching the parquet scan; `ArrowEvalPython`/`FlatMapGroupsInPandas`",
    "= the deliberate Arrow-batched Python boundaries; `TakeOrderedAndProject`",
    "= top-k without a global sort.",
    "",
    "| query | joins (B=broadcast, SM=sort-merge, SH=shuffled-hash, NL=nested-loop) | scans w/ pushed filters | pruned scans | python nodes | reused exchanges | top-k |",
    "|---|---|---|---|---|---|---|",
]

FOOTER = [
    "",
    "Notes:",
    "- `q5`/`q7`: every bounded dim (`nation`, `region`) broadcasts; fact joins stay shuffle joins for AQE.",
    "- `join_range_bucketed`: the range predicate rides an equi bucket key — hash join, not nested loop.",
    "- `join_theta`: equi-prefix hash join with the inequality as residual (never a cartesian).",
    "- `dedup_minhash_lsh` / `text_*`: Python appears only as Arrow-batched UDF nodes at the measured-faster points; candidate joins are id-only.",
    "- Iterative ops (`graph_bfs_cosupply`) cut lineage per level via localCheckpoint — constant-size plans at any depth.",
    "- `layout_bucketed_join`: both inputs read bucketed (`SelectedBucketsCount` in the scan, no Exchange before the SMJ — asserted in `tests/test_layout.py`); the only shuffle is the final groupBy.",
    "- `layout_partition_pruned`: the date predicate lands in `PartitionFilters` (directory pruning), not a data filter.",
    "- Node counts are from `.explain('formatted')`, which lists each operator twice (tree + detail section), plus the final-plan tree of each eager execution, which lists it once — compare rows to each other, not to absolute plan sizes.",
]


def _latest_executions(store, k: int) -> list:
    """The last ``k`` SQL executions in the status store, oldest first. The
    store keeps only the last ``spark.sql.ui.retainedExecutions``, in id
    order, so it is read from its end."""
    n = int(store.executionsCount())
    if n == 0:
        return []
    execs = store.executionsList(max(n - k, 0), min(n, k))
    return [execs.apply(i) for i in range(execs.size())]


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(cpus=8)
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    lines = list(HEADER)
    registry = all_queries()
    for name in HEADLINE:
        spec = registry.get(name)
        if spec is None:
            continue
        bus.waitUntilEmpty()
        before = max((e.executionId() for e in _latest_executions(store, 1)), default=-1)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df = spec.fn(spark, sf)
            bus.waitUntilEmpty()
            eager = [
                e.physicalPlanDescription().split("== Initial Plan ==")[0]
                for e in _latest_executions(store, 200)
                if e.executionId() > before
            ]
            df.explain("formatted")
        p = buf.getvalue() + "".join(eager)
        b = p.count("BroadcastHashJoin")
        sm = p.count("SortMergeJoin")
        sh = p.count("ShuffledHashJoin")
        nl = p.count("BroadcastNestedLoopJoin")
        reused = p.count("ReusedExchange")
        pushed = len(
            [m for m in re.findall(r"PushedFilters: \[([^\]]*)\]", p) if m.strip()]
        )
        scans = p.count("Scan parquet")
        pruned = len(re.findall(r"ReadSchema: struct<([^>]*)>", p))
        py = (
            p.count("ArrowEvalPython")
            + p.count("FlatMapGroupsInPandas")
            + p.count("MapInPandas")
            + p.count("AggregateInPandas")
        )
        topk = "yes" if "TakeOrderedAndProject" in p else ""
        joins = ", ".join(
            x
            for x in [
                f"{b}×B" if b else "",
                f"{sm}×SM" if sm else "",
                f"{sh}×SH" if sh else "",
                f"{nl}×NL" if nl else "",
            ]
            if x
        ) or "—"
        lines.append(
            f"| {name} | {joins} | {pushed}/{scans} | {pruned} | {py} | {reused} | {topk} |"
        )
    with open("PLANS.md") as fh:
        _, sep, sections = fh.read().partition("\n## ")
    with open("PLANS.md", "w") as fh:
        fh.write("\n".join(lines + FOOTER) + "\n" + ("## " + sections if sep else ""))
    print(f"wrote PLANS.md ({len(lines)} rows)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
