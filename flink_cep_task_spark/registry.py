"""Central query registry: name → (spark_callable, oracle_sql | None).

Everything the engine claims as implemented surfaces here; __spark_entry__
adapts this to the driver contract and tests/test_queries.py asserts parity
for every entry that has an oracle.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# The driver's correctness gate runs the FIRST 50 registered queries
# (measured: round 2 registered 51, CORRECTNESS_r02.json recorded exactly
# the first 50 — media_frame_sample, index 50, was silently skipped).
# Registration order therefore IS the gate roster: entries listed in
# OVERFLOW_LAST are deliberately parked beyond the cap. Every overflow
# entry still has a DuckDB oracle and is checked by the LOCAL gate
# (tests/test_queries.py runs the whole registry at sf0.001, and
# tests/test_registry_gate.py pins the roster), so nothing rots — the
# driver's file just can't show more than 50 rows.
DRIVER_GATE_CAP = 50

# Parked past the cap: the INTERSECT twin of users_purchase_no_error (the
# set-op family stays represented inside the gate) and the round-3
# additions — every gate slot was already taken by a distinct operator
# family, and each parked entry is pinned locally by tests/test_queries.py.
#
# Round 6 rotation (VERDICT r5 task #1): six flagship operators added since
# round 3 — session windows (cep_session_sum), watermark-fired windows
# (cep_timer_windows, now the streaming window fold), the 12-rule fan-out
# matrix (cep_many_rules), both skew tools (salted_hot_user_join,
# skewsafe_user_distinct), and the daily-crawl incremental dedup
# (dedup_incremental) — move INTO the
# driver's 50-slot gate so the hard external signal covers the newest
# operators. Six near-duplicate early entries rotate out (each family keeps
# a gated representative, and every rotated-out query stays oracle-checked
# by the local gate + tests/test_queries.py):
#   cep_tumbling_min    → tumbling folds stay gated via cep_tumbling_sum
#   cep_multikey_sum    → multi-key grouping stays gated via cep_multi_rule
#   q4_order_priority   → exists-style TPC-H stays gated via q22/q21-family
#   q14_promo_share     → conditional-agg TPC-H stays gated via q6/q19
#   token_counts        → token pipelines stay gated via text_stats +
#                         corpus_quality_report
#   pivot_event_counts  → wide-agg family stays gated via cube_event_stats
#
# Round 8 rotation (VERDICT r7 task #1): six round-7 flagships — one per
# new operator family — move INTO the 50-slot gate so the hard external
# signal covers the newest work:
#   dedup_substring        shift-invariant winnowing-fingerprint dedup
#   heavy_hitters_report   exact Misra-Gries two-pass frequent tokens
#   bucketed_user_join     zero-exchange co-bucketed storage layout
#   cep_followed_by_stream watermarked stream-stream interval join
#   incremental_rollup     store + filtered-batch incremental aggregate
#   bpe_merges_report      BPE tokenizer-vocabulary induction
# Six family-redundant entries park in exchange (each family keeps a gated
# representative; every parked query stays oracle-checked by the local
# gate + tests/test_queries.py):
#   q10_returned_items  → join-heavy TPC-H stays gated via q3/q5
#   q12_priority_class  → conditional-agg TPC-H stays gated via q6/q19
#   q19_bracket_revenue → predicate-bracket TPC-H stays gated via q6
#   value_percentiles   → percentile family stays near approx_quantiles
#                         (local) and cube_event_stats (gated)
#   props_json_agg      → JSON-functions family stays gated via
#                         cep_jsonline_roundtrip
#   dedup_simhash       → hamming near-dup stays gated via
#                         dedup_minhash_lsh + dedup_ngram_jaccard
OVERFLOW_LAST = (
    "q10_returned_items",
    "q12_priority_class",
    "q19_bracket_revenue",
    "value_percentiles",
    "props_json_agg",
    "dedup_simhash",
    "cep_tumbling_min",
    "cep_multikey_sum",
    "q4_order_priority",
    "q14_promo_share",
    "token_counts",
    "pivot_event_counts",
    "cep_global_live",
    "cep_comparator_matrix",
    "users_purchase_and_signup",
    "sample_stratified",
    "sample_report",
    "dedup_clusters",
    "tfidf_top_terms",
    "bigram_counts",
    "embedding_quantize",
    "funnel_signup_click_purchase",
    "decontaminate",
    "curate_top_quality",
    "media_chunk_audio",
    # round-4 additions
    "q7_volume_shipping",
    "q13_order_distribution",
    "q15_top_supplier",
    "q17_small_quantity",
    "q18_large_orders",
    "repetition_stats",
    "source_mix_report",
    "filter_gopher",
    "dedup_passages",
    # round-5 additions
    "q2_min_cost_supplier",
    "q8_market_share",
    "q9_product_profit",
    "q11_important_stock",
    "q16_parts_supplier_relation",
    "q20_potential_promotion",
    "q21_waiting_suppliers",
    "pack_sequences",
    "mix_temperature",
    "unigram_logprob_score",
    "ann_recall_report",
    "moving_avg_user_value",
    "ivf_cell_report",
    # round-6 additions
    "range_join_clicks",
    "dedup_retention_report",
    "embedding_dim_stats",
    "chunk_documents",
    # round-7 additions
    "dedup_prefix",
    "cross_source_overlap",
    "boilerplate_ngrams",
    "zscore_outliers",
    "semantic_dedup",
    "rag_retrieve",
    "cluster_topics_report",
    "split_train_eval",
    "minhash_est_error_report",
    "quality_mix_report",
    "cluster_balanced_sample",
    "dedup_method_agreement",
    "not_followed_by_purchase",
    # round-5 (second batch) additions
    "approx_distinct_report",
    "approx_quantiles_report",
    "lang_id_confusion",
    "curation_funnel",
    "tokenizer_fertility_report",
    "doc_length_histogram",
    "referential_integrity_audit",
    "resample_ffill",
    "cogroup_nearest_click",
    "column_profile_events",
    # round-6 additions
    "cep_first_event_null_groups",
    "dedup_stream_watermark",
    "dedup_incremental_minhash",
    "dedup_incremental_minhash_stored",
    "embedding_corr_pairs",
    "scd2_user_history",
    "state_asof_snapshot",
    "ann_pq",
    "ann_ivf_pq",
    "pq_codes",
    # round-7 additions
    "rule_update_live",
    "cep_late_data_policy",
    "dedup_substring_stored",
    "rollup_stream_maintain",
    "dedup_bloom_prune",
    "snapshot_diff",
    "funnel_single_pass",
    "event_transitions",
    "pii_redact_report",
    "cep_not_followed_by_stream",
    "ann_ivf_stored",
    "dedup_clusters_stored",
    # round-8 additions (the gate roster is frozen at the round-8
    # rotation; everything new parks here with a local oracle)
    "bpe_apply_report",
    "quality_nb_classifier",
    "media_dedup_report",
    "quality_nb_stored",
    "quality_nb_stream",
    "bpe_apply_stored",
    # round-9 additions
    "dedup_incremental_minhash_rolling",
    "incremental_rollup_rolling",
    "ann_ivf_rolling",
    "dedup_substring_rolling",
    "quality_nb_rolling",
    # round-10 additions
    "dedup_clusters_rolling",
    "daily_crawl_pipeline",
    # round-11 additions
    "daily_crawl_stream",
    # round-12 additions
    "daily_crawl_stream_day2",
    "daily_crawl_recrawl",
    # round-13 additions
    "cluster_label_maintenance",
    "daily_crawl_stream_recrawl",
)


def all_queries() -> dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]]:
    from flink_cep_task_spark.plans.analytics import ANALYTICS_QUERIES
    from flink_cep_task_spark.plans.cep_queries import CEP_QUERIES
    from flink_cep_task_spark.plans.datapipe import DATAPIPE_QUERIES
    from flink_cep_task_spark.plans.tpch import TPCH_QUERIES

    merged: dict[str, tuple] = {}
    for reg in (CEP_QUERIES, TPCH_QUERIES, ANALYTICS_QUERIES, DATAPIPE_QUERIES):
        overlap = merged.keys() & reg.keys()
        if overlap:
            raise ValueError(f"duplicate query names: {overlap}")
        merged.update(reg)
    for name in OVERFLOW_LAST:
        merged[name] = merged.pop(name)  # move to the end, past the cap
    return merged
