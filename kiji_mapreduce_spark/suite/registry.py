"""The query registry: name -> callable, the driver verification
window contract, and the DuckDB oracle SQL per query.

The ordering of ``QUERIES`` is load-bearing (the round driver
oracle-checks its first 50 entries); the window-ordering policy and its
mechanical enforcement (FIRST_WINDOW_REQUIRED + VERIFIED.json ledger +
tests/test_suite_smoke.py) live here, separate from the query
definitions themselves.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from kiji_mapreduce_spark import oracles
from kiji_mapreduce_spark.suite.queries_dedup import *  # noqa: F401,F403
from kiji_mapreduce_spark.suite.queries_events import *  # noqa: F401,F403
from kiji_mapreduce_spark.suite.queries_relational import *  # noqa: F401,F403
from kiji_mapreduce_spark.suite.queries_sample_sketch import *  # noqa: F401,F403
from kiji_mapreduce_spark.suite.queries_streaming import *  # noqa: F401,F403
from kiji_mapreduce_spark.suite.queries_table import *  # noqa: F401,F403
from kiji_mapreduce_spark.suite.queries_text import *  # noqa: F401,F403
from kiji_mapreduce_spark.suite.queries_vectors import *  # noqa: F401,F403
from kiji_mapreduce_spark.suite.queries_dedup import _embedding_lsh_oracle_sql
from kiji_mapreduce_spark.suite.queries_text import _BM25_QUERIES

# NOTE on ordering: the driver's correctness harness checks the FIRST 50
# entries of this dict. Ordering policy (r4 verdict ask #1): queries whose
# code changed this round go FIRST, then the queries whose last oracle row
# is oldest, then the freshest-verified fill the rest; the tail holds only
# queries green in the IMMEDIATELY previous round, so every registry query
# is oracle-fresh within two rounds. New queries must be added INSIDE the
# first-50 window until they earn a green row. Freshness is now a COMMITTED
# LEDGER, not comment discipline: tools/update_verified.py regenerates
# VERIFIED.json from the CORRECTNESS_r*.json pile, and
# tests/test_suite_smoke.py::test_verification_ledger_freshness fails when
# any query 2+ rounds stale (or never verified) sits outside this window
# (r5 verdict ask #1).
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # -- A query leaves the registry only by an endorsed retirement,
    #    and its q_ function and oracle SQL leave the package with it. --
    "c4_filter": q_c4_filter,
    "pipeline_curate": q_pipeline_curate,
    "collocations_top": q_collocations_top,
    "video_near_duplicates": q_video_near_duplicates,
    "audio_near_duplicates": q_audio_near_duplicates,
    "text_langid": q_text_langid,
    "classifier_score_topk": q_classifier_score_topk,
    "drift_orders_price": q_drift_orders_price,
    "split_train_test": q_split_train_test,
    "split_leakage": q_split_leakage,
    "negative_sample_vocab": q_negative_sample_vocab,
    "dedup_simhash_pairs": q_dedup_simhash_pairs,
    "dedup_source_matrix": q_dedup_source_matrix,
    "knn_ivf_topk": q_knn_ivf_topk,
    "knn_lsh_topk": q_knn_lsh_topk,
    "cell_rewrite_int_to_long": q_cell_rewrite_int_to_long,
    "lm_bigram_quality": q_lm_bigram_quality,
    "streaming_dedup_docs": q_streaming_dedup_docs,
    "bm25_search_topk": q_bm25_search_topk,
    "text_normalize": q_text_normalize,
    "sample_stratified": q_sample_stratified,
    "sample_stratum_topk": q_sample_stratum_topk,
    "events_anomaly_zscore": q_events_anomaly_zscore,
    "mixture_token_budget": q_mixture_token_budget,
    "pack_documents": q_pack_documents,
    "kmeans_clusters": q_kmeans_clusters,
    "salted_topk_events": q_salted_topk_events,
    "sample_cluster_balanced": q_sample_cluster_balanced,
    "gather_pricing_summary": q_gather_pricing_summary,
    "filter_pushdown_revenue": q_filter_pushdown_revenue,
    "kvstore_lookup_join": q_kvstore_lookup_join,
    "semi_join_customers_with_orders": q_semi_join_customers_with_orders,
    "anti_join_customers_without_orders": q_anti_join_customers_without_orders,
    "join_revenue_by_nation": q_join_revenue_by_nation,
    "producer_price_band": q_producer_price_band,
    "pivot_orders_by_customer": q_pivot_orders_by_customer,
    "bulk_import_props": q_bulk_import_props,
    "window_top3_orders_per_customer": q_window_top3_orders_per_customer,
    "set_ops_nations": q_set_ops_nations,
    "rollup_revenue": q_rollup_revenue,
    "mapreduce_event_stats": q_mapreduce_event_stats,
    "topk_shipping_priority": q_topk_shipping_priority,
    "cube_order_stats": q_cube_order_stats,
    "distinct_segments": q_distinct_segments,
    "window_running_revenue": q_window_running_revenue,
    "dedup_corpus_survivors": q_dedup_corpus_survivors,
    "dedup_incremental_pairs": q_dedup_incremental_pairs,
    "countmin_heavy_hitters": q_countmin_heavy_hitters,
    "crawl_registered_domain": q_crawl_registered_domain,
    "crawl_html_extract": q_crawl_html_extract,
    # ---- window boundary (driver verifies the 50 entries above;
    #      tests/test_suite_smoke.py::test_window_boundary_comment pins
    #      this comment to position 50) ----
    # -- tail: the 50 r15-green queries (CORRECTNESS_r14 and _r15 50/50;
    #    these were the r14/r15 window and rotate back in next round) --
    "dedup_exact_substring": q_dedup_exact_substring,
    "robots_filter": q_robots_filter,
    "dsir_log_weights": q_dsir_log_weights,
    "shard_ingest_members": q_shard_ingest_members,
    "dedup_boilerplate_strip": q_dedup_boilerplate_strip,
    "image_near_duplicates": q_image_near_duplicates,
    "knn_sq8_topk": q_knn_sq8_topk,
    "knn_pq_topk": q_knn_pq_topk,
    "knn_recall_ivf": q_knn_recall_ivf,
    "streaming_drift_psi": q_streaming_drift_psi,
    "text_fingerprint": q_text_fingerprint,
    "text_quality": q_text_quality,
    "text_chunking": q_text_chunking,
    "dedup_exact": q_dedup_exact,
    "dedup_minhash_pairs": q_dedup_minhash_pairs,
    "kmv_distinct_users": q_kmv_distinct_users,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_repeated_ngrams": q_dedup_repeated_ngrams,
    "pagerank_nation_trade": q_pagerank_nation_trade,
    "entity_resolution_blocked": q_entity_resolution,
    "streaming_sessionize": q_streaming_sessionize,
    "mixture_temperature": q_mixture_temperature,
    "weighted_sample_topk": q_weighted_sample,
    "hard_negative_mining": q_hard_negative_mining,
    "decontaminate_overlap": q_decontaminate_overlap,
    "decontaminate_spans": q_decontaminate_spans,
    "streaming_windowed_counts": q_streaming_windowed_counts,
    "kvstore_avro_file_join": q_kvstore_avro_file_join,
    "versioned_slice_maxversions": q_versioned_slice_maxversions,
    "map_family_regex_filter": q_map_family_regex_filter,
    "asof_join_purchase_click": q_asof_join_purchase_click,
    "range_join_price_bands": q_range_join_price_bands,
    "embedding_label_cosine_stats": q_embedding_label_cosine_stats,
    "quantiles_order_price": q_quantiles_order_price,
    "sql_surface_big_spenders": q_sql_surface_big_spenders,
    "grouping_sets_orders": q_grouping_sets_orders,
    "wordcount_top50": q_wordcount_top50,
    "tfidf_top_terms": q_tfidf_top_terms,
    "pivot_wide_event_values": q_pivot_wide_event_values,
    "array_agg_priorities": q_array_agg_priorities,
    "events_json_props": q_events_json_props,
    "timeseries_gapfill": q_timeseries_gapfill,
    "snapshot_diff_orders": q_snapshot_diff_orders,
    "data_quality_audit": q_data_quality_audit,
    "embedding_near_dups": q_embedding_near_dups,
    "text_repetition": q_text_repetition,
    "text_pii": q_text_pii,
    "multimodal_features": q_multimodal_features,
    "streaming_interval_join": q_streaming_interval_join,
    "text_token_count": q_text_token_count,
}


#: Names that MUST sit inside the driver's first-50 verification window
#: this round (r16): the 50 r13-green queries at the 2-round freshness
#: cap (r14 and r15 both re-verified the same 50, so these aged out
#: unrotated), stalest-first in update_verified.py's emitted order.
#: Mechanically enforced by
#: tests/test_suite_smoke.py::test_first_window_membership —
#: hand-ordered dict entries alone proved too fragile (ADVICE r3).
FIRST_WINDOW_REQUIRED: list[str] = [
    "c4_filter",
    "pipeline_curate",
    "collocations_top",
    "video_near_duplicates",
    "audio_near_duplicates",
    "text_langid",
    "classifier_score_topk",
    "drift_orders_price",
    "split_train_test",
    "split_leakage",
    "negative_sample_vocab",
    "dedup_simhash_pairs",
    "dedup_source_matrix",
    "knn_ivf_topk",
    "knn_lsh_topk",
    "cell_rewrite_int_to_long",
    "lm_bigram_quality",
    "streaming_dedup_docs",
    "bm25_search_topk",
    "text_normalize",
    "sample_stratified",
    "sample_stratum_topk",
    "events_anomaly_zscore",
    "mixture_token_budget",
    "pack_documents",
    "kmeans_clusters",
    "salted_topk_events",
    "sample_cluster_balanced",
    "gather_pricing_summary",
    "filter_pushdown_revenue",
    "kvstore_lookup_join",
    "semi_join_customers_with_orders",
    "anti_join_customers_without_orders",
    "join_revenue_by_nation",
    "producer_price_band",
    "pivot_orders_by_customer",
    "bulk_import_props",
    "window_top3_orders_per_customer",
    "set_ops_nations",
    "rollup_revenue",
    "mapreduce_event_stats",
    "topk_shipping_priority",
    "cube_order_stats",
    "distinct_segments",
    "window_running_revenue",
    "dedup_corpus_survivors",
    "dedup_incremental_pairs",
    "countmin_heavy_hitters",
    "crawl_registered_domain",
    "crawl_html_extract",
]

# The window has zero slack (every tail query sits at the 2-round
# freshness cap), so seating a STAGED query below means retiring a
# registry query first.

#: Queries added MID-ROUND when the window had zero slack (displacing
#: any member would breach the 2-round freshness cap). Each maps to the
#: round it was added and was locally hash-driven vs its DuckDB oracle
#: at sf0.01 before landing. test_verification_ledger_freshness accepts
#: a never-verified tail query ONLY while its pending round equals the
#: current round — next round these MUST take window slots (the
#: new/changed-first policy) or the test fails, so the exemption
#: self-expires and cannot become a parking lot.
#:
#: Empty as of r16: dsir_log_weights (r13) took its mandated window
#: slot in the r14 rotation, closing the exemption, and no query has
#: been added since.
NEW_PENDING_WINDOW: dict[str, int] = {}

#: Transplant-ready seat candidates NOT in QUERIES (seating needs a
#: retirement — see the window note above).
#: Kept OUT of QUERIES so the driver window, bench set, and the
#: freshness ledger are untouched, but enumerable so plan_lint lints
#: their plans every round and check_correctness drives them BY NAME
#: — a staged query must not rot between staging and seating.
STAGED: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "main_content": q_main_content,
    "semantic_dedup": q_semantic_dedup,
    "hybrid_search_rrf": q_hybrid_search_rrf,
}

STAGED_ORACLES: dict[str, str] = {
    "main_content": SQL_MAIN_CONTENT,
    "semantic_dedup": SQL_SEMANTIC_DEDUP,
    "hybrid_search_rrf": SQL_HYBRID_RRF,
}


ORACLES: dict[str, str] = {
    "c4_filter": SQL_C4_FILTER,
    "dedup_exact_substring": SQL_EXACT_SUBSTRING,
    "robots_filter": SQL_ROBOTS_FILTER,
    "dsir_log_weights": SQL_DSIR_LOG_WEIGHTS,
    "shard_ingest_members": SQL_SHARD_INGEST_MEMBERS,
    "dedup_boilerplate_strip": SQL_BOILERPLATE_STRIP,
    "crawl_registered_domain": SQL_CRAWL_REGISTERED_DOMAIN,
    "crawl_html_extract": SQL_CRAWL_HTML_EXTRACT,
    "image_near_duplicates": SQL_IMAGE_NEAR_DUPLICATES,
    "video_near_duplicates": SQL_VIDEO_NEAR_DUPLICATES,
    "audio_near_duplicates": SQL_AUDIO_NEAR_DUPLICATES,
    "classifier_score_topk": SQL_CLASSIFIER_SCORE,
    "split_train_test": SQL_SPLIT_TRAIN_TEST,
    "split_leakage": SQL_SPLIT_LEAKAGE,
    "knn_recall_ivf": SQL_KNN_RECALL_IVF,
    "streaming_drift_psi": SQL_STREAMING_DRIFT,
    "collocations_top": SQL_COLLOCATIONS,
    "negative_sample_vocab": SQL_NEGATIVE_SAMPLE,
    "entity_resolution_blocked": SQL_ENTITY_RESOLUTION,
    "streaming_sessionize": SQL_SESSIONIZE,
    "text_chunking": SQL_TEXT_CHUNKING,
    "mixture_temperature": SQL_MIXTURE_TEMPERATURE,
    "kmv_distinct_users": SQL_KMV_DISTINCT,
    "weighted_sample_topk": SQL_WEIGHTED_SAMPLE,
    "countmin_heavy_hitters": SQL_COUNTMIN_HEAVY_HITTERS,
    "hard_negative_mining": SQL_HARD_NEGATIVE_MINING,
    "multimodal_features": SQL_MULTIMODAL_FEATURES,
    "kmeans_clusters": SQL_KMEANS_CLUSTERS,
    "kvstore_avro_file_join": SQL_KVSTORE_AVRO_FILE,
    "sample_cluster_balanced": SQL_SAMPLE_CLUSTER_BALANCED,
    "salted_topk_events": SQL_SALTED_TOPK_EVENTS,
    "gather_pricing_summary": SQL_GATHER_PRICING,
    "filter_pushdown_revenue": SQL_FILTER_PUSHDOWN,
    "kvstore_lookup_join": SQL_KVSTORE_LOOKUP,
    "semi_join_customers_with_orders": SQL_SEMI_JOIN,
    "anti_join_customers_without_orders": SQL_ANTI_JOIN,
    "join_revenue_by_nation": SQL_JOIN_REVENUE,
    "producer_price_band": SQL_PRODUCER_PRICE_BAND,
    "pivot_orders_by_customer": SQL_PIVOT_ORDERS,
    "versioned_slice_maxversions": SQL_VERSIONED_SLICE,
    "cell_rewrite_int_to_long": SQL_CELL_REWRITE,
    "map_family_regex_filter": SQL_MAP_FAMILY_REGEX,
    "bulk_import_props": SQL_BULK_IMPORT,
    "window_top3_orders_per_customer": SQL_WINDOW_TOP3,
    "set_ops_nations": SQL_SET_OPS,
    "rollup_revenue": SQL_ROLLUP_REVENUE,
    "mapreduce_event_stats": SQL_MAPREDUCE_EVENTS,
    "topk_shipping_priority": SQL_TOPK_SHIPPING,
    "cube_order_stats": SQL_CUBE_ORDERS,
    "distinct_segments": SQL_DISTINCT_SEGMENTS,
    "window_running_revenue": SQL_WINDOW_RUNNING,
    "asof_join_purchase_click": SQL_ASOF_JOIN,
    "range_join_price_bands": SQL_RANGE_JOIN,
    "dedup_exact": SQL_DEDUP_EXACT,
    "text_token_count": SQL_TEXT_TOKEN_COUNT,
    "text_quality": SQL_TEXT_QUALITY,
    "embedding_label_cosine_stats": SQL_EMBEDDING_LABEL_STATS,
    "dedup_ngram_jaccard": SQL_DEDUP_NGRAM_JACCARD,
    "streaming_windowed_counts": SQL_STREAMING_WINDOWED,
    "quantiles_order_price": SQL_QUANTILES,
    "sql_surface_big_spenders": SQL_BIG_SPENDERS,
    "grouping_sets_orders": SQL_GROUPING_SETS,
    "wordcount_top50": SQL_WORDCOUNT,
    "tfidf_top_terms": SQL_TFIDF,
    "pivot_wide_event_values": SQL_PIVOT_WIDE,
    "array_agg_priorities": SQL_ARRAY_AGG,
    "text_langid": SQL_TEXT_LANGID,
    "text_repetition": SQL_TEXT_REPETITION,
    "decontaminate_overlap": oracles.decontaminate_sql(
        n=3, modulus=23, threshold=0.5),
    "text_pii": SQL_TEXT_PII,
    "sample_stratified": SQL_SAMPLE_STRATIFIED,
    "sample_stratum_topk": SQL_SAMPLE_STRATUM_TOPK,
    "mixture_token_budget": SQL_MIXTURE_TOKEN_BUDGET,
    "streaming_dedup_docs": SQL_STREAMING_DEDUP,
    "pack_documents": SQL_PACK_DOCUMENTS,
    "pipeline_curate": SQL_PIPELINE_CURATE,
    "text_normalize": SQL_TEXT_NORMALIZE,
    "dedup_incremental_pairs": (
        "SELECT * FROM (\n" + oracles.minhash_pairs_sql(threshold=0.5)
        + "\n) WHERE id_a % 2 = 1 OR id_b % 2 = 1"),
    "events_anomaly_zscore": SQL_EVENTS_ANOMALY,
    "embedding_near_dups": _embedding_lsh_oracle_sql(),
    "dedup_minhash_pairs": oracles.minhash_pairs_sql(threshold=0.5),
    "dedup_source_matrix": oracles.near_dup_source_matrix_sql(threshold=0.5),
    "events_json_props": SQL_EVENTS_JSON_PROPS,
    "timeseries_gapfill": SQL_TIMESERIES_GAPFILL,
    "snapshot_diff_orders": SQL_SNAPSHOT_DIFF_ORDERS,
    "data_quality_audit": SQL_DATA_QUALITY_AUDIT,
    "dedup_simhash_pairs": oracles.simhash_pairs_sql(max_hamming=10, bands=4),
    "dedup_corpus_survivors": oracles.corpus_survivors_sql(threshold=0.5),
    "text_fingerprint": oracles.fingerprint_sql(),
    "knn_lsh_topk": oracles.knn_lsh_sql(n_planes=4, k=5),
    "knn_ivf_topk": oracles.knn_ivf_sql(n_centroids=8, nprobe=2, k=5),
    "knn_pq_topk": oracles.knn_pq_sql(n_subspaces=8, n_codes=16, k=5,
                                      refine=4),
    "knn_sq8_topk": oracles.knn_sq8_sql(k=5, refine=4),
    "drift_orders_price": SQL_DRIFT_ORDERS_PRICE,
    "streaming_interval_join": SQL_STREAMING_INTERVAL_JOIN,
    "bm25_search_topk": oracles.bm25_sql(_BM25_QUERIES, k=10),
    "lm_bigram_quality": oracles.bigram_lm_sql(alpha=0.1),
    "decontaminate_spans": oracles.decontaminate_spans_sql(n=3, modulus=23),
    "dedup_repeated_ngrams": oracles.repeated_ngram_coverage_sql(
        n=3, min_docs=2),
    "pagerank_nation_trade": oracles.pagerank_sql(
        """SELECT sn.n_name AS src, cn.n_name AS dst,
                  count(*)::DOUBLE AS w
           FROM lineitem l
           JOIN orders o ON o.o_orderkey = l.l_orderkey
           JOIN customer c ON c.c_custkey = o.o_custkey
           JOIN supplier s ON s.s_suppkey = l.l_suppkey
           JOIN nation sn ON sn.n_nationkey = s.s_nationkey
           JOIN nation cn ON cn.n_nationkey = c.c_nationkey
           GROUP BY 1, 2""",
        damping=0.85, iters=5, node_alias="nation",
        rank_alias="pagerank"),
    # every registry query has an oracle entry — the rows-only set is
    # EMPTY (multimodal_features gained SQL_MULTIMODAL_FEATURES in r4;
    # a stale comment here claimed otherwise until r13)
}
