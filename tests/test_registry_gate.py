"""Pins the driver-gate roster: the driver's correctness gate records only
the FIRST `DRIVER_GATE_CAP` registered queries (measured round 2: 51
registered, exactly the first 50 in CORRECTNESS_r02.json). These tests make
the overflow policy explicit so a future registration can't silently push a
load-bearing query out of the driver's gate — overflow entries remain
oracle-checked locally by tests/test_queries.py, which runs the WHOLE
registry."""

from __future__ import annotations

from flink_cep_task_spark.registry import DRIVER_GATE_CAP, OVERFLOW_LAST, all_queries

# queries that must stay inside the driver's gate: one per operator family
# that has no other gated representative.
MUST_BE_GATED = {
    "cep_live_streaming",        # live stateful streaming engine
    "cep_streaming_windows",     # native windowed streaming path
    "cep_rule_lifecycle",        # rule CRUD compaction
    "media_feature_stats",       # multimodal mapInPandas
    "media_frame_sample",        # multimodal fan-out (skipped by cap in r2)
    "ann_ivf",                   # IVF ANN
    "ann_lsh",                   # multi-table LSH ANN
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_exact",
    "dedup_embedding_cosine",
    "doc_fingerprint",
    "knn_bruteforce",
    # round-6 promotions (VERDICT r5 task #1): the flagship operators added
    # since round 3 must hold driver-gate slots from now on.
    "cep_session_sum",           # session windows (reference extension)
    "cep_timer_windows",         # live fold: event-time timeout fire/evict
    "cep_many_rules",            # 12-rule broadcast fan-out matrix
    "salted_hot_user_join",      # explicit salting leg AQE can't see
    "skewsafe_user_distinct",    # two-phase skew-safe distinct
    "dedup_incremental",         # daily-crawl new-batch-vs-corpus dedup
    # round-8 promotions (VERDICT r7 task #1): the round-7 flagships — one
    # per new operator family — must hold driver-gate slots from now on.
    "dedup_substring",           # winnowing-fingerprint shift-invariant dedup
    "heavy_hitters_report",      # exact Misra-Gries two-pass frequent tokens
    "bucketed_user_join",        # zero-exchange co-bucketed storage layout
    "cep_followed_by_stream",    # watermarked stream-stream interval join
    "incremental_rollup",        # store + filtered-batch incremental agg
    "bpe_merges_report",         # BPE tokenizer-vocabulary induction
}

# rotated out in round 6 — each family keeps another gated representative
# (see registry.py OVERFLOW_LAST comment); pinned here so they don't
# silently drift back in and evict a flagship.
ROTATED_OUT_R6 = {
    "cep_tumbling_min",
    "cep_multikey_sum",
    "q4_order_priority",
    "q14_promo_share",
    "token_counts",
    "pivot_event_counts",
}

# rotated out in round 8 — each family keeps another gated representative
# (see registry.py OVERFLOW_LAST comment).
ROTATED_OUT_R8 = {
    "q10_returned_items",
    "q12_priority_class",
    "q19_bracket_revenue",
    "value_percentiles",
    "props_json_agg",
    "dedup_simhash",
}


def test_rotated_out_queries_are_parked_not_dropped():
    qs = all_queries()
    gated = set(list(qs)[:DRIVER_GATE_CAP])
    for name in ROTATED_OUT_R6 | ROTATED_OUT_R8:
        assert name in qs, f"{name} was dropped, not parked"
        assert name not in gated
        assert qs[name][1] is not None, f"{name} lost its oracle"


def test_gated_prefix_contains_every_required_query():
    gated = list(all_queries())[:DRIVER_GATE_CAP]
    missing = MUST_BE_GATED - set(gated)
    assert not missing, f"queries pushed out of the driver gate: {missing}"


def test_only_declared_overflow_is_beyond_the_cap():
    names = list(all_queries())
    overflow = names[DRIVER_GATE_CAP:]
    assert set(overflow) <= set(OVERFLOW_LAST), (
        f"undeclared overflow past the {DRIVER_GATE_CAP}-entry driver gate: "
        f"{set(overflow) - set(OVERFLOW_LAST)} — either reorder or add to "
        "OVERFLOW_LAST deliberately"
    )


def test_overflow_queries_keep_their_oracle():
    qs = all_queries()
    for name in OVERFLOW_LAST:
        assert name in qs
        assert qs[name][1] is not None, f"{name} lost its oracle"
