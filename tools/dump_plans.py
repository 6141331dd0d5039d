"""Dump executed physical plans for the headline queries to PLANS.md —
evidence that the plans have the shapes SCALING.md claims (pushed
filters, broadcast joins, TakeOrderedAndProject, partial aggregation).

Usage: python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from weaviate_spark.plans.profile import executed_node_counts  # noqa: E402
from weaviate_spark.session import get_spark  # noqa: E402

INTERESTING = [
    "filter_sort_limit", "filter_like_prefix", "agg_pricing_summary",
    "ref_resolve_2hop", "ref_fact_join_agg", "ref_fact_join_agg_bucketed",
    "fact_fact_join_bucketed", "bm25_topk",
    "knn_cosine_topk", "hybrid_relative_score", "dedup_minhash_lsh",
    "text_quality_scores", "events_windowed_counts",
    "knn_classification", "zeroshot_classification",
    "knn_named_vectors_min", "search_group_by_struct", "hybrid_group_by",
    "multivector_maxsim_topk", "dedup_embedding_cosine",
    "decontaminate_overlap", "sample_stratified",
    "agg_median_mode", "knn_bq_rescore", "tenant_scoped_read",
    "knn_pq_rescore", "knn_multi_target_relative",
    "contextual_classification", "knn_rq_rescore", "ann_ivf_topk",
    "events_session_agg", "stateful_user_totals",
    "dedup_ngram_jaccard", "dedup_simhash", "semantic_dedup",
    "events_purchase_attribution", "knn_cosine_topk_quantized",
    "dedup_substring_pairs", "text_repetition_filter",
    "curation_line_dedup", "multivector_muvera_topk", "near_image_topk",
    "sample_temperature_mixture", "text_unigram_xent",
    "curation_dsir_weights", "curation_doc_chunks",
    "dedup_minhash_clusters", "ref_filter_chain_3hop",
    "text_bigram_perplexity", "text_tfidf_cosine_topk",
    "graph_pagerank_trade", "image_dhash_neardup",
    "embedding_hard_negatives", "embedding_label_outliers",
    "events_funnel_conversion", "events_anomaly_zscore",
    "tokenizer_bpe_encode", "profile_lineitem_columns",
    "text_hash_embed_knn", "video_scene_cuts",
    "text_quality_percentiles", "sample_weighted_topk",
    "sketch_cms_heavy_hitters", "dedup_fuzzy_names",
    "agg_rollup_region_nation", "events_gap_fill_locf",
    "sketch_histogram_quantiles", "sketch_bloom_decontaminate",
    "dedup_keep_best_quality",
    # round-6 third-session additions
    "profile_mad_outliers", "stats_bootstrap_ci", "graph_assortativity",
    "dedup_containment", "embedding_kmeans", "events_roc_auc",
    "events_temporal_neighbors", "text_collocations_pmi",
    "embedding_pca_top_component", "events_rolling_active_users",
    "gini_revenue_concentration", "events_kaplan_meier",
    "validate_referential_integrity", "agg_trimmed_mean",
    "events_cusum_changepoints", "drift_psi_value",
    # round-6 fourth-session additions
    "stats_welch_ttest", "stats_ks_two_sample", "customer_rfm_segments",
    "graph_link_prediction", "embedding_silhouette_labels",
    "text_zipf_fit", "text_heaps_growth", "text_ngram_novelty",
    "image_quality_stats", "graph_clustering_coeff",
    "stats_randomization_test", "text_char_entropy",
    "graphql_explore_parsed", "orders_cohort_ltv",
    "events_concurrent_sessions", "events_markov_stationary",
    "orders_revenue_trend", "orders_shipping_delay",
    "text_length_histogram", "audio_silence_runs",
    "events_funnel_latency",
    # round-7: compressed-scan artifact route + skew-capped rewrites +
    # graph-structured ANN
    "knn_filtered_quantized", "ann_nndescent_graph",
    "ann_graph_expand_topk", "ann_graph_hubness",
    # round-7 continuation: SQ compressed route + recall audit +
    # trainable classifier + GIF decode pipeline
    "knn_sq_rescore", "ann_recall_audit", "curation_nb_classifier",
    "image_gif_frame_stats",
    # round-11 session 2: nodes status, Gopher/C4 filters, object
    # validation gate, classification job + ref meta, CDF
    "nodes_status_verbose", "text_gopher_rules", "text_c4_page_filter",
    "object_validation_batch", "classification_ref_meta",
    "crud_table_changes",
]

# scan attributes the node census cannot show; node counts (joins,
# aggregates, exchanges, cached reads) come from the executed tree
MARKERS = ["PushedFilters", "PartitionFilters", "Bucketed: true"]


def prune_cached_lineage(plan: str) -> str:
    """Drop every InMemoryRelation subtree from a plan string.

    An InMemoryTableScan executes as ONE cached read, but toString()
    prints the cached frame's full build lineage inline beneath its
    InMemoryRelation child — so naive marker counts attribute the build
    plan's Exchanges/scans to every query that READS the cache. The
    node's tree-prefix column (spaces, ':', '+', '-') gives its depth:
    skip the InMemoryRelation line and everything indented deeper."""
    out: list[str] = []
    skip_col = None
    for ln in plan.splitlines():
        col = len(ln) - len(ln.lstrip(" :+-"))
        if skip_col is not None:
            if ln.strip() and col > skip_col:
                continue
            skip_col = None
        if "InMemoryRelation" in ln:
            skip_col = col
            continue
        out.append(ln)
    return "\n".join(out)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan-dump", cpus=8)
    from weaviate_spark.entry_queries import QUERIES

    out = [
        "# PLANS — executed physical plan evidence (auto-generated by "
        "tools/dump_plans.py)\n",
        f"Scale factor dir: `{sf_dir}`. For each headline query: the "
        "scan attributes found in the executed plan text (counts), the "
        "executed node census, and scan lines showing pushdown. Cached "
        "lineage is PRUNED from the text: an InMemoryTableScan executes "
        "as one cached read, so the InMemoryRelation subtree it prints "
        "inline (the cache's one-time build plan) is stripped. The "
        "`executed tree` line counts every executed node by name "
        "(weaviate_spark/plans/profile.py walks the JVM plan tree), with "
        "real `scan:<table>` data-source scans, cached reads, and "
        "shuffle, broadcast and reused exchanges split out. Budget "
        "pinned by test: "
        "hybrid queries scan the corpus parquet ZERO times per query "
        "(all corpus reads are cached) with <=6 cache reads "
        "(tests/test_fixes_r11.py::test_hybrid_executed_scan_budget).\n",
    ]
    for name in INTERESTING:
        fn = QUERIES.get(name)
        if fn is None:
            continue
        df = fn(spark, sf_dir)
        df.count()  # materialize so AQE final plan is available
        plan = prune_cached_lineage(
            df._jdf.queryExecution().executedPlan().toString()
        )
        counts = {m: plan.count(m) for m in MARKERS if m in plan}
        scans = [
            re.sub(r"#\d+L?", "", ln.strip())[:220]
            for ln in plan.splitlines()
            if "FileScan" in ln
        ]
        # executed-TREE audit (r10 verdict ask #4): even the pruned
        # text can over-count; the tree walk reports what actually ran
        tree = executed_node_counts(df)
        out.append(f"## {name}\n")
        out.append(
            "markers: " + ", ".join(f"{k}×{v}" for k, v in sorted(counts.items())) + "\n"
        )
        out.append(
            "executed tree: " + ", ".join(
                f"{k}×{v}" for k, v in sorted(tree.items())) + "\n"
        )
        for s in scans[:4]:
            out.append(f"- `{s}`\n")
        out.append("\n")

    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
