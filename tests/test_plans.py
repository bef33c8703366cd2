"""Physical-plan audits: the properties that make these plans survive a
100× scale-up are asserted, not assumed — filters reach the parquet scan,
small dimensions broadcast, scans prune columns, and nothing degenerates
into a cartesian product. A regression that silently drops one of these
(e.g. a refactor that hides a filter behind a non-pushable expression)
fails here long before it shows up as a 100 TB incident."""

from __future__ import annotations

from flink_cep_task_spark.registry import all_queries
from tests.conftest import SF_DIR

QUERIES = all_queries()


def _plan(spark, name: str) -> str:
    # default metadata stringification truncates the scan's PushedFilters/
    # ReadSchema at 100 chars — widen it so the assertions can see them
    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    fn, _sql = QUERIES[name]
    return fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()


def test_q6_filters_push_to_scan(spark):
    plan = _plan(spark, "q6_forecast_revenue")
    assert "PushedFilters: [" in plan
    # the selective shipdate/discount/quantity predicates must reach the
    # parquet reader, not run post-scan
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_quantity" in plan


def test_q6_scan_prunes_columns(spark):
    plan = _plan(spark, "q6_forecast_revenue")
    # 4-column projection from the 16-column lineitem table: the read
    # schema must not contain untouched wide columns
    assert "l_comment" not in plan
    assert "l_orderkey" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_tpch_dimension_joins_broadcast(spark):
    for name in ("q3_shipping_priority", "q5_local_supplier", "q10_returned_items"):
        plan = _plan(spark, name)
        assert "BroadcastHashJoin" in plan, f"{name}: no broadcast join in plan"
        assert "CartesianProduct" not in plan, f"{name}: cartesian product!"


def test_cep_fanout_broadcasts_rules_and_shuffles_once(spark):
    plan = _plan(spark, "cep_multi_rule")
    # rules are KBs: the fan-out must be a broadcast nested-loop join (the
    # containment predicate is non-equi), never a shuffle of the metrics
    assert "BroadcastNestedLoopJoin" in plan
    # exactly one DATA shuffle: the groupBy on (rule, group, window) —
    # identified by group_id in the partitioning key. The widen
    # round-robin repartition is not a data shuffle.
    data_exchanges = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "group_id" in ln
    ]
    assert len(data_exchanges) == 1, f"expected 1 data shuffle: {data_exchanges}"
    # the rule table is a JVM relation: an RDD leaf (spark.createDataFrame
    # of Python rows) would make every pass start Python workers to run
    # the broadcast
    assert "ExistingRDD" not in plan


def test_cep_plan_build_sends_few_py4j_commands(spark, tmp_path, monkeypatch):
    """Building a backfill pass's plan — parse_metric_lines plus
    evaluate_rules over the 12 MANY_RULES — sends a bounded number of
    py4j commands. Every pass rebuilds its plan and each command is a
    round trip between Python and the JVM, so the layers are SQL text
    (one call per expression) and the rule table is one bound parameter. Measured on
    local[2]: 1997 commands when every layer was built from F.* Column
    nodes, 229 now. Object-release commands depend on when Python frees
    its Java handles, so they are not counted, and gc stays off while
    counting."""
    import gc

    from flink_cep_task_spark.plans.cep import evaluate_rules
    from flink_cep_task_spark.plans.cep_queries import MANY_RULES
    from flink_cep_task_spark.sources.jsonline import parse_metric_lines

    (tmp_path / "part.jsonl").write_text('{"eventTime": 1000, "t_user": "u", "value": 1}\n')
    lines = spark.read.text(str(tmp_path))
    build = lambda: evaluate_rules(spark, parse_metric_lines(lines), MANY_RULES)  # noqa: E731
    build()  # the first build fills py4j's reflection caches
    client = spark.sparkContext._gateway._gateway_client
    send, sent = client.send_command, []

    def counting(command, *args, **kwargs):
        if not command.startswith("m\nd\n"):  # py4j's object release
            sent.append(command)
        return send(command, *args, **kwargs)

    gc.collect()
    gc.disable()
    monkeypatch.setattr(client, "send_command", counting)
    try:
        build()
    finally:
        monkeypatch.undo()
        gc.enable()
    assert len(sent) <= 400, f"{len(sent)} py4j commands to build one pass"


def test_no_cartesian_products_anywhere(spark):
    # every registered query's physical plan is cartesian-free; the CEP
    # fan-out's broadcast nested-loop join is the one sanctioned non-equi
    # join (rule table = KBs)
    for name in QUERIES:
        if name in (
            "cep_live_streaming",
            "cep_streaming_windows",
            "cep_global_live",
            "cep_timer_windows",
        ):
            continue  # streaming replays: plan materializes only at runtime
        fn, _ = QUERIES[name]
        plan = fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, f"{name} has a cartesian product"


def test_widen_noops_on_already_parallel_input(spark, tmp_path):
    """widen_small_scan must be IDENTITY when the source already provides
    parallelism — the normal case at scale, where inserting a repartition
    would mean a corpus-wide shuffle."""
    from flink_cep_task_spark.sources.tables import widen_small_scan

    df = spark.range(100_000).repartition(16)
    assert df.rdd.getNumPartitions() == 16
    out = widen_small_scan(df)
    assert out is df, "widen repartitioned an already-parallel input"
    # and the test tables genuinely need widening (single row group ⇒ 1
    # partition) — the property the plan-layer call sites rely on
    narrow = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    assert narrow.rdd.getNumPartitions() < 8
    assert widen_small_scan(narrow) is not narrow


def test_no_broadcast_hint_on_fact_keyed_aggregates(spark):
    """Aggregates keyed by a FACT key (per-partkey, per-orderkey) grow
    linearly with the fact table — a static F.broadcast() hint on them is
    unconditional (AQE cannot override a hint) and becomes a scale-killer
    at 100×. The hint must be absent; AQE is free to pick broadcast at
    runtime when the measured size allows. Detected in the optimized
    logical plan: a Join whose condition involves the aggregate-side key
    must not carry strategy=broadcast."""
    import re

    cases = {
        "q17_small_quantity": r"= ?__pk",          # per-partkey avg qty
        "q2_min_cost_supplier": r"= ?__pk",        # per-partkey min cost
        "q21_waiting_suppliers": r"= ?__ok",       # per-orderkey supp counts
        "q18_large_orders": r"o_orderkey.* = .*l_orderkey",  # HAVING agg
    }
    for name, key_pat in cases.items():
        fn, _ = QUERIES[name]
        opt = fn(spark, SF_DIR)._jdf.queryExecution().optimizedPlan().toString()
        for ln in opt.splitlines():
            if "Join" in ln and re.search(key_pat, ln):
                assert "strategy=broadcast" not in ln, (
                    f"{name}: fact-keyed aggregate join carries a static "
                    f"broadcast hint: {ln.strip()}"
                )


def test_no_static_broadcast_on_sf_scaling_tables(spark):
    """Customer, supplier and part grow LINEARLY with the scale factor —
    at a 100 TB lineitem, customer is ~2 TB. A static F.broadcast() hint is
    unconditional (AQE cannot override it), so any hint surviving into a
    TPC-H plan must sit on a side that is provably bounded: the
    fixed-cardinality region/nation dims (5/25 rows forever) or a
    single-row scalar aggregate. Walks every Join's JoinHint in the
    optimized logical plan and checks the hinted side's provenance."""
    from flink_cep_task_spark.plans.tpch import TPCH_QUERIES

    # columns a legitimately-hinted side may expose: nation/region columns
    # (incl. the q7/q8 role-aliased nation projections)
    FIXED_DIM_COLS = ("r_", "n_")
    FIXED_DIM_ALIASES = {"sn_key", "supp_nation", "cn_key", "cust_nation"}

    def nodes(p):
        yield p
        ch = p.children()
        for i in range(ch.size()):
            yield from nodes(ch.apply(i))

    def hinted_sides(join):
        h = join.hint()
        for opt, side in ((h.leftHint(), join.left()), (h.rightHint(), join.right())):
            if opt.isDefined():
                strat = opt.get().strategy()
                if strat.isDefined() and "broadcast" in strat.get().toString().lower():
                    yield side

    for name, (fn, _sql) in TPCH_QUERIES.items():
        plan = fn(spark, SF_DIR)._jdf.queryExecution().optimizedPlan()
        for node in nodes(plan):
            if node.getClass().getSimpleName() != "Join":
                continue
            for side in hinted_sides(node):
                mr = side.maxRows()
                if mr.isDefined() and int(str(mr.get())) <= 1:
                    continue  # scalar aggregate: bounded by construction
                out = side.output()
                cols = [out.apply(i).name() for i in range(out.size())]
                assert all(
                    c.startswith(FIXED_DIM_COLS) or c in FIXED_DIM_ALIASES
                    for c in cols
                ), (
                    f"{name}: static broadcast hint on an SF-scaling side "
                    f"with columns {cols} — remove the hint, let AQE decide"
                )


def test_new_tpch_dims_broadcast_no_cartesians(spark):
    # TPC-H widening: every dimension join broadcasts; the q11 scalar-total
    # join broadcasts too (single row). Fact-keyed aggregate joins
    # deliberately do NOT (see test above).
    for name in (
        "q2_min_cost_supplier",
        "q8_market_share",
        "q9_product_profit",
        "q11_important_stock",
        "q16_parts_supplier_relation",
        "q20_potential_promotion",
        "q21_waiting_suppliers",
    ):
        plan = _plan(spark, name)
        assert "BroadcastHashJoin" in plan, f"{name}: no broadcast join"
        assert "CartesianProduct" not in plan, f"{name}: cartesian product!"


def test_q16_exclusion_is_anti_join(spark):
    # the NOT-IN supplier exclusion must be a broadcast ANTI join, not a
    # filter over a collected list
    plan = _plan(spark, "q16_parts_supplier_relation")
    assert "LeftAnti" in plan


def test_q20_semi_join_chain(spark):
    plan = _plan(spark, "q20_potential_promotion")
    assert "LeftSemi" in plan


def test_pack_sequences_window_partitions_by_source(spark):
    # the packing cumsum must be a source-partitioned window — a global
    # ordering would serialize the whole corpus through one task
    plan = _plan(spark, "pack_sequences")
    import re

    w = re.search(r"RunningWindowFunction.*|Window \[.*", plan)
    assert w, "no window node in pack_sequences plan"
    assert "source" in w.group(0), f"window not partitioned by source: {w.group(0)}"


def test_jsonline_parse_stays_above_widen_exchange(spark):
    # the bad-line drop is a Generate, not a Filter: a pushed Filter
    # re-inlines the serialize+parse chain below the widening exchange
    # (one task). Below the round-robin exchange there must be NO from_json.
    plan = _plan(spark, "cep_jsonline_roundtrip")
    below = plan.split("Exchange RoundRobinPartitioning")[-1]
    assert "from_json" not in below, "parse pushed below the widening exchange"


def test_doc_fingerprint_runs_udf_once(spark):
    # the short-doc drop is a Generate: a pushed Filter plants a second
    # ArrowEvalPython that re-runs the UDF single-threaded pre-exchange
    plan = _plan(spark, "doc_fingerprint")
    assert plan.count("ArrowEvalPython") == 1, "fingerprint UDF evaluated more than once"


def test_zscore_moments_broadcast_back_onto_scan(spark):
    # the per-type moments table is |event types| rows — it must come back
    # as a broadcast join so the enrichment pass never shuffles the events
    plan = _plan(spark, "zscore_outliers")
    assert "BroadcastHashJoin" in plan
    # and the moments themselves partial-aggregate (map-side combine)
    assert "partial_count" in plan or "partial_sum" in plan


def test_rag_topk_broadcasts_against_documents_scan(spark):
    # |Q|×k neighbor rows vs the documents corpus: the tiny side must be
    # the broadcast build side; document bodies never shuffle
    plan = _plan(spark, "rag_retrieve")
    assert "BroadcastHashJoin" in plan
    text_shuffles = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "text#" in ln
    ]
    assert not text_shuffles, f"document bodies shuffled: {text_shuffles}"


def test_boilerplate_doc_freq_avoids_count_distinct(spark):
    # doc frequency comes from the per-(doc,gram) pre-aggregation + plain
    # count — a count(DISTINCT doc_id) would plan a non-map-side-combinable
    # two-phase distinct over the exploded gram stream
    plan = _plan(spark, "boilerplate_ngrams")
    assert "distinct" not in plan.lower()
    assert "partial_count" in plan


def test_dedup_prefix_shuffles_hash_not_text(spark):
    # canonicalization is a map-side-combinable MIN keyed on the 32-byte
    # prefix hash; the document text must not appear in any exchange key
    plan = _plan(spark, "dedup_prefix")
    assert "partial_min" in plan
    text_shuffles = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "text#" in ln
    ]
    assert not text_shuffles, f"document text shuffled: {text_shuffles}"


def test_semantic_dedup_screens_in_grouped_pandas(spark):
    # the within-cell screen must be the grouped-map Arrow operator (one
    # matmul per cell over once-shuffled vectors), never a pair join that
    # materializes two vectors per candidate row
    plan = _plan(spark, "semantic_dedup")
    assert "FlatMapGroupsInPandas" in plan


def test_cluster_topics_joins_before_token_explode(spark):
    # docs join their cell assignment at row level; the token Generate must
    # sit ABOVE the join (exploding first would shuffle every token through
    # the join). Physical plans print root-first, so the explode line must
    # appear before the docs-side join seen from the top.
    plan = _plan(spark, "cluster_topics_report")
    gen = plan.find("Generate explode")
    assert gen != -1, "no token explode in cluster_topics plan"
    join_markers = [
        plan.find(m) for m in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
        if plan.find(m) != -1
    ]
    assert join_markers and gen < min(join_markers), (
        "token explode runs below the cell join"
    )


def test_split_train_eval_never_shuffles_text(spark):
    plan = _plan(spark, "split_train_eval")
    text_shuffles = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "text#" in ln
    ]
    assert not text_shuffles, f"document text shuffled: {text_shuffles}"


def test_cluster_balanced_sample_window_partitions_by_cell(spark):
    import re

    plan = _plan(spark, "cluster_balanced_sample")
    w = re.search(r"Window \[.*", plan)
    assert w, "no window node in cluster_balanced_sample plan"
    assert "cell" in w.group(0), f"rank window not partitioned by cell: {w.group(0)}"


def test_range_join_is_equi_join_not_nested_loop(spark):
    # the banded time-range join's reason to exist: the band predicate is
    # carried by an EQUI join on (user_id, bucket) with the range as a
    # post-join filter — a raw theta join would plan as a
    # BroadcastNestedLoopJoin (per-user cross product, quadratic in hot
    # users)
    plan = _plan(spark, "range_join_clicks")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_curation_funnel_never_shuffles_text(spark):
    # the funnel's claim: document bodies reach only the md5 projection
    # inside dedup_exact; every funnel join/aggregate moves doc_id-keyed
    # flags or 32-byte hashes, never text
    plan = _plan(spark, "curation_funnel")
    text_shuffles = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "text#" in ln
    ]
    assert not text_shuffles, f"document text shuffled: {text_shuffles}"
    assert "CartesianProduct" not in plan


def test_salted_join_plan_shows_shard_expansion(spark):
    # the skew-mitigation contract: the replicated side carries the salt
    # explode (Generate of the 0..n_salts-1 sequence) and the join key
    # includes the shard column — a plan that lost either has silently
    # degenerated to the unsalted hot-key join
    plan = _plan(spark, "salted_hot_user_join")
    assert "Generate explode" in plan, "salt replication explode missing"
    assert "__shard" in plan, "join no longer keyed by the salt shard"
    assert "CartesianProduct" not in plan


def test_not_followed_by_is_banded_anti_join(spark):
    # temporal negation: the band existence check must be a bucketed EQUI
    # join + LEFT ANTI, never a nested-loop NOT EXISTS
    plan = _plan(spark, "not_followed_by_purchase")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan


def test_cogroup_nearest_click_keys_on_bucket_not_user(spark):
    # Arrow-overhead contract (VERDICT r5 task #2): the cogroup must key on
    # pmod(hash(user_id), BUCKETS) — a bounded number of grouped-pandas
    # round-trips — never on raw user_id (millions of ~1 ms Arrow batches
    # at production cardinality). The bucket column is what both sides
    # hash-partition on; user_id must NOT appear in the exchange key.
    plan = _plan(spark, "cogroup_nearest_click")
    assert "FlatMapCoGroupsInPandas" in plan
    exchanges = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert exchanges, "cogroup lost its co-partitioning exchanges"
    for ln in exchanges:
        assert "b#" in ln, f"exchange not keyed on the bucket: {ln}"
        assert "user_id#" not in ln.split("Exchange")[1].split(")")[0] or "pmod" in ln, (
            f"exchange keyed on raw user_id: {ln}"
        )


def test_cogroup_nearest_click_bucketed_matches_per_user_form(spark):
    # result identity: the bucketed grouping + in-batch per-user split must
    # produce byte-identical results to the naive per-user cogroup it
    # replaced (same nearest click, same tie-breaks, same band nulls)
    import pandas as pd
    from pyspark.sql import functions as F

    from flink_cep_task_spark.plans.analytics import (
        NEAREST_CLICK_BAND_S,
        cogroup_nearest_click,
    )
    from flink_cep_task_spark.sources.tables import load_table

    got = (
        cogroup_nearest_click(spark, SF_DIR)
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )

    # reference: per-user pandas computation driver-side (sf0.001 is small)
    e = load_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", "event_type", F.col("ts").cast("long").alias("s")
    ).toPandas()
    p = e[e.event_type == "purchase"]
    c = e[e.event_type == "click"]
    rows = []
    for _, r in p.iterrows():
        cs = c[c.user_id == r.user_id].s
        best, gap = None, None
        if len(cs):
            d = (cs - r.s).abs()
            m = d.min()
            if m <= NEAREST_CLICK_BAND_S:
                cand = cs[d == m]
                best, gap = int(cand.min()), int(m)  # earlier click wins ties
        rows.append((r.event_id, r.user_id, r.s, best, gap))
    want = pd.DataFrame(
        rows, columns=["event_id", "user_id", "p_ts", "nearest_click_ts", "gap_s"]
    ).sort_values("event_id").reset_index(drop=True)
    assert len(got) == len(want)
    for col in want.columns:
        a = got[col].astype("Float64").fillna(-1)
        b = want[col].astype("Float64").fillna(-1)
        assert (a == b).all(), f"divergence in {col}"


def test_dedup_incremental_minhash_is_banded_equi_join(spark):
    # incremental near-dup contract (VERDICT r5 task #6): the candidate
    # step must be a (band, sig) equi-join between incoming and corpus
    # banded signatures — never an incoming×corpus cross/nested-loop join,
    # and document text must never shuffle (signatures are 16 longs/doc)
    plan = _plan(spark, "dedup_incremental_minhash")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "band#" in plan and "sig#" in plan, "banded join keys missing"
    text_shuffles = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "text#" in ln
    ]
    assert not text_shuffles, f"document text shuffled: {text_shuffles}"


def test_dedup_incremental_stored_prunes_store_and_pushes_incoming_filter(spark):
    # the signature-store probe's scale contract: the corpus side reads
    # the source-partitioned store with the != filter applied at FILE
    # LISTING time (PartitionFilters), the incoming side pushes its
    # source equality into the documents scan, and the candidate step
    # stays a (band, sig) equi-join — no cross/nested-loop join anywhere
    plan = _plan(spark, "dedup_incremental_minhash_stored")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    store_scans = [
        ln for ln in plan.splitlines()
        if "FileScan parquet" in ln and "signatures" in ln
    ]
    assert store_scans, "signature store scan missing from plan"
    assert any(
        "PartitionFilters" in ln and "NOT (source" in ln for ln in store_scans
    ), "store scan lost its partition-pruning source filter"
    doc_scans = [
        ln for ln in plan.splitlines()
        if "FileScan parquet" in ln and "documents.parquet" in ln
    ]
    assert any(
        "EqualTo(source," in ln for ln in doc_scans
    ), "incoming-source equality not pushed to the documents scan"


def test_scd2_single_exchange_on_user(spark):
    # gaps-and-islands contract: both window passes AND the segment
    # aggregate reuse ONE hashpartitioning(user_id) exchange — a second
    # exchange would mean the running-sum or the lead() pass repartitioned
    plan = _plan(spark, "scd2_user_history")
    exchanges = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert len(exchanges) == 1, f"expected 1 exchange, got: {exchanges}"
    assert "user_id" in exchanges[0]


def test_state_asof_pushes_time_cutoff_to_scan(spark):
    # point-in-time read contract: the cutoff must prune row groups at
    # the reader (load_events_before filters the RAW column — a predicate
    # on the derived instant column never pushes), and the aggregate must
    # carry map-side partials (partial_max_by) so the shuffle moves
    # |users| rows, not events
    plan = _plan(spark, "state_asof_snapshot")
    scan = [ln for ln in plan.splitlines() if "PushedFilters" in ln][0]
    assert "LessThan(ts" in scan, f"time cutoff not pushed: {scan}"
    assert "partial_max_by" in plan, "aggregate lost its map-side partial"


def test_dedup_substring_shuffles_fingerprints_not_text(spark):
    # winnowing dedup's scale contract: all k-gram hashing + window-min
    # selection happens in-row (higher-order functions), so the ONLY
    # exchange keys are the 32-byte fingerprint hash and doc ids — the
    # document text must never shuffle, and pair generation must be an
    # fp equi-join (never a cross/nested-loop join)
    plan = _plan(spark, "dedup_substring")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "fp#" in plan, "fingerprint join key missing"
    text_shuffles = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "text#" in ln
    ]
    assert not text_shuffles, f"document text shuffled: {text_shuffles}"


def test_incremental_rollup_reads_store_not_corpus(spark):
    # incremental aggregate maintenance contract (VERDICT r6 task #6):
    # the corpus side must come from the materialized partial store, and
    # the only raw-events scan is the batch side with its time predicate
    # pushed to the parquet reader — re-aggregating the corpus would show
    # an unfiltered events scan
    plan = _plan(spark, "incremental_rollup")
    store_scans = [
        ln for ln in plan.splitlines()
        if "FileScan parquet" in ln and "rollup_partials" in ln
    ]
    assert store_scans, "partial store scan missing from plan"
    event_scans = [
        ln for ln in plan.splitlines()
        if "FileScan parquet" in ln and "events.parquet" in ln
    ]
    assert len(event_scans) == 1, f"expected ONE raw events scan: {event_scans}"
    assert "GreaterThanOrEqual(ts" in event_scans[0], (
        "batch-side time cutoff not pushed to the events scan"
    )


def test_dedup_substring_stored_prunes_store_and_pushes_incoming_filter(spark):
    # the fingerprint-store probe's scale contract (mirror of the minhash
    # store pin): corpus side reads the source-partitioned store with the
    # != filter applied at FILE LISTING time, the incoming side pushes
    # its source equality into the documents scan, candidates stay an fp
    # equi-join, and no document text shuffles
    plan = _plan(spark, "dedup_substring_stored")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    store_scans = [
        ln for ln in plan.splitlines()
        if "FileScan parquet" in ln and "fingerprints" in ln
    ]
    assert store_scans, "fingerprint store scan missing from plan"
    assert any(
        "PartitionFilters" in ln and "NOT (source" in ln for ln in store_scans
    ), "store scan lost its partition-pruning source filter"
    doc_scans = [
        ln for ln in plan.splitlines()
        if "FileScan parquet" in ln and "documents.parquet" in ln
    ]
    assert any("EqualTo(source," in ln for ln in doc_scans), (
        "incoming source filter not pushed to the documents scan"
    )
    text_shuffles = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "text#" in ln
    ]
    assert not text_shuffles, f"document text shuffled: {text_shuffles}"


def test_dedup_bloom_prune_filters_corpus_before_exchange(spark):
    # the bloom probe's scale contract: the membership test runs INSIDE
    # the corpus scan stage (as the broadcast nested-loop join condition,
    # 16 KiB bitmap build side), so corpus rows that cannot match die
    # before any exchange — the only hash exchanges move the 32-byte key
    # k, never document text, and the min-aggregate keeps its map-side
    # partial so the verify join receives |distinct keys| rows
    plan = _plan(spark, "dedup_bloom_prune")
    bnlj = [ln for ln in plan.splitlines() if "BroadcastNestedLoopJoin" in ln]
    assert bnlj and "xxhash64" in bnlj[0], "bloom probe not in the BNLJ condition"
    assert "CartesianProduct" not in plan
    assert "partial_min" in plan, "verify aggregate lost its map-side partial"
    text_shuffles = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "text#" in ln
    ]
    assert not text_shuffles, f"document text shuffled: {text_shuffles}"


def test_heavy_hitters_two_pass_contract(spark):
    # exact heavy hitters' scale contract: pass 1 is the Arrow-batched
    # Misra-Gries candidate generator (MapInPandas — no keyspace
    # shuffle), pass 2 recounts ONLY candidate tokens behind a broadcast
    # semi-join, so the token-keyed exchange moves partial counts of a
    # bounded candidate set, never the full vocabulary
    plan = _plan(spark, "heavy_hitters_report")
    assert "MapInPandas" in plan, "candidate pass lost its MG sketch"
    bhj = [
        ln for ln in plan.splitlines()
        if "BroadcastHashJoin [token" in ln.strip()
    ]
    assert bhj, "candidate set not broadcast into the recount pass"
    assert "partial_count" in plan, "recount lost its map-side partial"


def test_snapshot_diff_single_scan_single_exchange(spark):
    # diff-of-two-snapshots contract: both snapshots fold in ONE
    # aggregate (FILTER clauses) over ONE time-pruned scan — a self-join
    # of two as-of subqueries would show two events scans and a join
    # exchange; the cutoff must reach the parquet reader on the RAW ts
    # column
    plan = _plan(spark, "snapshot_diff")
    event_scans = [
        ln for ln in plan.splitlines()
        if "FileScan parquet" in ln and "events.parquet" in ln
    ]
    assert len(event_scans) == 1, f"expected ONE events scan: {event_scans}"
    assert "LessThan(ts" in event_scans[0], "time cutoff not pushed to the scan"
    exchanges = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert len(exchanges) == 1 and "user_id" in exchanges[0], (
        f"expected exactly one user_id exchange: {exchanges}"
    )
    assert "partial_max_by" in plan, "aggregate lost its map-side partial"


def test_funnel_single_pass_one_scan_one_exchange(spark):
    # the whole point of the single-pass formulation vs the join-cascade
    # funnel: ONE events scan and ONE user_id exchange — the cascaded
    # running mins ride a single sorted window pass, and the final
    # per-user aggregate reuses the window's hash partitioning
    plan = _plan(spark, "funnel_single_pass")
    event_scans = [
        ln for ln in plan.splitlines()
        if "FileScan parquet" in ln and "events.parquet" in ln
    ]
    assert len(event_scans) == 1, f"expected ONE events scan: {event_scans}"
    exchanges = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert len(exchanges) == 1 and "user_id" in exchanges[0], (
        f"expected exactly one user_id exchange: {exchanges}"
    )
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_event_transitions_event_level_exchange_is_user_only(spark):
    # one events scan; the ONLY event-cardinality exchange is the user_id
    # window shuffle — the (from_type, to_type) and from_type exchanges
    # sit above a map-side partial count whose keyspace is bounded by
    # |event_types|^2 at any corpus size
    plan = _plan(spark, "event_transitions")
    event_scans = [
        ln for ln in plan.splitlines()
        if "FileScan parquet" in ln and "events.parquet" in ln
    ]
    assert len(event_scans) == 1, f"expected ONE events scan: {event_scans}"
    assert "partial_count" in plan, "transition count lost its map-side partial"
    exchanges = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    user_ex = [ln for ln in exchanges if "user_id" in ln]
    assert len(user_ex) == 1, f"expected one user_id exchange: {exchanges}"
    for ln in exchanges:
        if "user_id" not in ln:
            assert "event_type" in ln or "from_type" in ln or "to_type" in ln, (
                f"unexpected exchange key: {ln}"
            )


def test_pii_redact_is_map_only(spark):
    # PII scrubbing is embarrassingly parallel: no hash exchange anywhere
    # (the only allowed exchange is widen_small_scan's conditional
    # RoundRobin, a no-op on splittable production inputs), no Python —
    # regexp_count/replace stay inside whole-stage codegen on the scan
    plan = _plan(spark, "pii_redact_report")
    assert "Exchange hashpartitioning" not in plan
    assert "SortMergeJoin" not in plan and "Window" not in plan
    for marker in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert marker not in plan, f"Python in the PII hot path: {marker}"


def test_bpe_apply_encode_is_map_only(spark):
    # the encode stage folds the collected merge list into the projection
    # as literal replaces: ONE corpus scan, no hash exchange, no Python,
    # no join — the induction's own jobs run separately (bounded,
    # vocabulary-sized); the returned plan is scan -> project only
    plan = _plan(spark, "bpe_apply_report")
    assert "Exchange hashpartitioning" not in plan
    assert "Join" not in plan and "Window" not in plan
    for marker in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert marker not in plan, f"Python in the BPE encode path: {marker}"


def test_quality_nb_stored_probes_store_not_corpus(spark):
    # the stored-classifier contract: probe-time tokenization covers ONLY
    # the incoming batch (source equality pushed to the documents scan);
    # the corpus contributes nothing but the vocab-bounded model FileScan
    plan = _plan(spark, "quality_nb_stored")
    pushed = [
        ln for ln in plan.splitlines()
        if "PushedFilters" in ln and "source" in ln and "documents" in ln
    ]
    assert pushed, "incoming-source filter not pushed to the documents scan"
    scans = [ln for ln in plan.splitlines() if "Scan parquet" in ln]
    # _store_path always prefixes the store tempdir with nb_model_ — the
    # broad `"model" in ln` arm this once had matched ANY scan path
    assert any("nb_model_" in ln for ln in scans), (
        f"model store FileScan missing: {scans}"
    )
    for marker in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert marker not in plan, f"Python in the probe path: {marker}"


def test_bucketed_user_join_is_exchange_free(spark):
    # the bucketed-layout contract: both sides are bucketed+sorted by
    # user_id into the same bucket count, so the sort-merge join AND the
    # per-user aggregate on top run with ZERO exchange of any kind —
    # the plan's only sorts are partition-local (no shuffle beneath them)
    plan = _plan(spark, "bucketed_user_join")
    exchanges = [ln.strip() for ln in plan.splitlines() if "Exchange" in ln]
    assert not exchanges, f"bucketed join plan shuffled: {exchanges}"
    assert "SortMergeJoin" in plan, "co-located join lost its SMJ shape"
    bucketed = sum("Bucketed: true" in ln for ln in plan.splitlines())
    assert bucketed >= 2, f"expected both scans bucketed, saw {bucketed}"
    assert "partial_count" in plan or "HashAggregate" in plan


def test_ann_ivf_stored_probes_store_not_corpus(spark):
    # the incremental-index contract: probe-time Python is exactly TWO
    # bounded matmul passes (the incoming batch + the |Q| query vectors);
    # the corpus side is a (vec_id, cell) FileScan of the index store,
    # never an assignment matmul, and the incoming batch's label split
    # reaches the embeddings scan as a pushed equality
    plan = _plan(spark, "ann_ivf_stored")
    lines = plan.splitlines()
    assert sum("ArrowEvalPython" in ln for ln in lines) == 2, (
        "expected exactly two assignment matmuls (incoming + queries)"
    )
    store_scans = [
        ln for ln in lines if "FileScan parquet" in ln and "ivf_store" in ln
    ]
    assert store_scans, "corpus inverted file not read from the index store"
    inc_scans = [
        ln for ln in lines
        if "FileScan parquet" in ln and "label" in ln
        and ("= 9" in ln or "<=> 9" in ln)
    ]
    assert inc_scans, "incoming label filter not pushed to the embeddings scan"
    assert "CartesianProduct" not in plan
    # no full-corpus persist (VERDICT r8 task #5): every cached relation
    # must be the BOUNDED query slice (vec_id upper bound pushed to its
    # scan), and the exact-rerank corpus side must be a STREAMED
    # unbounded FileScan, not an InMemoryTableScan pinning 100 TB.
    # Clear session caches first: Spark's CacheManager substitutes ANY
    # canonically-equal cached subtree (another test's persisted
    # full-corpus frame) into this plan, which is fixture-scale reuse by
    # the session, not a persist by THIS operator — the pin must measure
    # the operator's own plan.
    import re

    from flink_cep_task_spark.operators.cache import release_caches

    release_caches()
    spark.catalog.clearCache()
    plan = _plan(spark, "ann_ivf_stored")
    lines = plan.splitlines()

    cached_scan, streamed_corpus = False, False
    for i, ln in enumerate(lines):
        if "FileScan parquet" not in ln or "embeddings.parquet" not in ln:
            continue
        under_cache = any(
            "InMemoryRelation" in prev for prev in lines[max(0, i - 6):i]
        )
        filters = ln.split("DataFilters: [", 1)[-1].split("]", 1)[0]
        bounded = re.search(r"vec_id#\d+L? < \d", filters) is not None
        if under_cache:
            assert bounded, f"full-corpus persist crept back in: {ln[:200]}"
            cached_scan = True
        elif not bounded and "<=>" not in filters:
            streamed_corpus = True
    assert cached_scan, "bounded query-slice cache missing"
    assert streamed_corpus, "rerank corpus scan is not streamed"


def test_ivf_store_split_covers_null_labels(spark):
    # the corpus/incoming predicates must PARTITION the embeddings —
    # every vector in exactly one side — including NULL labels (the
    # column is nullable): a plain != would drop NULL-label vectors from
    # both sides of the stored index while the oracle assigns them
    from pyspark.sql import functions as F

    from flink_cep_task_spark.operators.similarity import IVF_INCOMING_LABEL

    emb = spark.createDataFrame(
        [(1, 0), (2, IVF_INCOMING_LABEL), (3, None)], "vec_id LONG, label INT"
    )
    corpus = emb.filter(~F.col("label").eqNullSafe(IVF_INCOMING_LABEL))
    incoming = emb.filter(F.col("label").eqNullSafe(IVF_INCOMING_LABEL))
    c = {r["vec_id"] for r in corpus.collect()}
    i = {r["vec_id"] for r in incoming.collect()}
    assert c | i == {1, 2, 3} and c & i == set()
    assert 3 in c  # NULL label is corpus, not dropped


def test_bucketed_store_rebuilds_after_catalog_loss(spark):
    # the bucket-store cache holds CATALOG table names, which die with
    # their session — the builder must revalidate and rebuild rather
    # than hand back a dangling name (simulated by dropping the tables)
    from flink_cep_task_spark.plans.analytics import _bucketed_tables

    ev_tbl, us_tbl = _bucketed_tables(spark, SF_DIR)
    spark.sql(f"DROP TABLE IF EXISTS {ev_tbl}")
    spark.sql(f"DROP TABLE IF EXISTS {us_tbl}")
    ev2, us2 = _bucketed_tables(spark, SF_DIR)
    assert spark.catalog.tableExists(ev2) and spark.catalog.tableExists(us2)
    assert spark.table(ev2).count() > 0


def test_dedup_clusters_stored_probe_reads_no_corpus_text(spark):
    # the incremental clustering's scale contract lives in its edge
    # probe: document text is read ONLY under the pushed
    # source=incoming filter (the batch being shingled); the corpus
    # contributes its PRECOMPUTED signature store (source-partition-
    # filtered scan), never re-shingled text
    from flink_cep_task_spark.operators.dedup import (
        INCREMENTAL_INCOMING_SOURCE,
        incremental_cluster_edges,
    )
    from flink_cep_task_spark.plans.datapipe import _signature_store
    from flink_cep_task_spark.sources.tables import load_table, widen_small_scan

    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    docs = widen_small_scan(load_table(spark, SF_DIR, "documents"))
    sig = spark.read.parquet(_signature_store(spark, SF_DIR))
    plan = (
        incremental_cluster_edges(docs, sig)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    doc_text_scans = [
        ln for ln in plan.splitlines()
        if "FileScan parquet" in ln and "documents.parquet" in ln
        and "text" in ln.split("ReadSchema")[-1]
    ]
    assert doc_text_scans, "expected the incoming shingling scan"
    for ln in doc_text_scans:
        assert f"EqualTo(source,{INCREMENTAL_INCOMING_SOURCE})" in ln, (
            f"document text read without the incoming filter: {ln[-300:]}"
        )
    sig_scans = [
        ln for ln in plan.splitlines()
        if "FileScan parquet" in ln and "signatures" in ln
    ]
    # the strict form (matching the pins at the minhash_stored tests):
    # the source predicate must appear INSIDE the PartitionFilters list
    # (file-listing pruning), not merely as a pushed data filter
    assert sig_scans and any(
        "PartitionFilters" in ln
        and "source" in ln.split("PartitionFilters")[1].split("]")[0]
        for ln in sig_scans
    ), "corpus signature store scan lost its source PARTITION filter"


def test_cluster_label_admission_reads_only_checkpointed_mapping(spark):
    # the round-10 CC cache fix's contract: after the fixpoint
    # converges, the node-only mapping a label-store admission writes
    # is a lineage-TRUNCATED checkpoint — its plan is a bare RDD scan,
    # so the admission (and any later consumer) can never re-execute
    # the edge-derivation + fixpoint lineage; and the full per-doc
    # result reads ONLY the documents doc_id projection plus that
    # mapping — the signature store does not appear in the final plan
    # at all (its contribution is baked into the checkpointed labels)
    from flink_cep_task_spark.operators.dedup import (
        dedup_clusters_from_store,
    )
    from flink_cep_task_spark.plans.datapipe import (
        _cluster_store,
        _signature_store,
    )
    from flink_cep_task_spark.sources.tables import load_table, widen_small_scan

    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    docs = widen_small_scan(load_table(spark, SF_DIR, "documents"))
    cl = spark.read.schema("doc_id LONG, cluster_id LONG").parquet(
        _cluster_store(spark, SF_DIR)
    )
    sig = spark.read.parquet(_signature_store(spark, SF_DIR))
    r = dedup_clusters_from_store(docs, cl, sig)
    lab = getattr(r, "_graft_cc_labels", None)
    assert lab is not None, "fixpoint mapping not threaded through"
    lab_plan = lab._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in lab_plan, "mapping is not checkpointed"
    assert "FileScan" not in lab_plan, (
        "label admission would re-read files:\n" + lab_plan[:800]
    )
    full_plan = r._jdf.queryExecution().executedPlan().toString()
    assert "signatures" not in full_plan, (
        "final result re-reads the signature store instead of the "
        "checkpointed mapping"
    )
    doc_scans = [
        ln for ln in full_plan.splitlines()
        if "FileScan parquet" in ln and "documents.parquet" in ln
    ]
    assert doc_scans, "documents doc_id projection missing"
    for ln in doc_scans:
        rs = ln.split("ReadSchema")[-1]
        assert "text" not in rs, f"final join reads text: {ln[-200:]}"


def test_rolling_day2_probe_touches_only_batch_and_store(spark):
    # the maintenance loop's scale contract (VERDICT r8 task #1): after
    # day-1 admission, the day-2 probe's plan reads (a) the documents
    # scan with the day-2 source equality PUSHED, and (b) the advanced
    # signature store with the != partition filter — day-1 text is never
    # re-shingled; its signatures arrive via the store partition the
    # query itself wrote
    import pyspark.sql.functions as F

    from flink_cep_task_spark.operators.dedup import (
        INCREMENTAL_INCOMING_SOURCE,
        ROLLING_DAY2_SOURCE,
        append_minhash_signatures,
        dedup_incremental_minhash_from_store,
    )
    from flink_cep_task_spark.plans.datapipe import _rolling_sig_store
    from flink_cep_task_spark.sources.tables import load_table, widen_small_scan

    docs = widen_small_scan(load_table(spark, SF_DIR, "documents"))
    path = _rolling_sig_store(spark, SF_DIR)
    append_minhash_signatures(
        docs.filter(F.col("source") == INCREMENTAL_INCOMING_SOURCE), path
    )
    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    df = dedup_incremental_minhash_from_store(
        docs, spark.read.parquet(path), ROLLING_DAY2_SOURCE
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    doc_scans = [
        ln for ln in plan.splitlines()
        if "FileScan parquet" in ln and "documents.parquet" in ln
    ]
    assert doc_scans, "documents scan missing"
    for ln in doc_scans:
        assert f"EqualTo(source,{ROLLING_DAY2_SOURCE})" in ln, (
            f"day-2 probe reads more than the day-2 batch: {ln[:200]}"
        )
    store_scans = [
        ln for ln in plan.splitlines()
        if "FileScan parquet" in ln and "signatures" in ln
    ]
    assert store_scans, "signature store scan missing"
    assert any(
        "PartitionFilters" in ln and "NOT (source" in ln for ln in store_scans
    ), "store scan lost its partition-pruning source filter"


def test_rollup_rolling_scans_are_bounded(spark):
    # the rollup maintenance loop's scale contract (3-day cadence):
    # every day's batch scan carries the RAW-column time predicate
    # (days 1-2 bounded on both sides, day 3 on the left), the corpus
    # arrives only as rollup_partials FileScans, and every store read
    # is partition-pruned to days strictly before its own index — no
    # unbounded events scan anywhere
    plan = _plan(spark, "incremental_rollup_rolling")
    lines = plan.splitlines()
    ev = [
        ln for ln in lines
        if "FileScan parquet" in ln and "events.parquet" in ln
    ]
    assert len(ev) == 3, f"expected 3 batch scans, got {len(ev)}"
    def datafilters(ln):
        return ln.split("DataFilters: [", 1)[-1].split("]", 1)[0]
    for ln in ev:
        assert ">=" in datafilters(ln), f"batch scan missing lower bound: {ln[:200]}"
    assert sum("<" in datafilters(ln) for ln in ev) >= 2, (
        "a bounded day's batch scan lost its upper bound"
    )
    store = [
        ln for ln in lines
        if "FileScan parquet" in ln and "rollup_partials" in ln
    ]
    assert len(store) == 3, f"expected 3 store scans, got {len(store)}"
    def partfilters(ln):
        return ln.split("PartitionFilters: [", 1)[-1].split("]", 1)[0]
    for ln in store:
        assert "day" in partfilters(ln) and "<" in partfilters(ln), (
            "a store read lost its own-day partition pin"
        )


def test_substring_rolling_day2_probe_touches_only_batch_and_store(spark):
    # winnowing edition of the rolling day-2 pin: after admission, the
    # day-2 probe tokenizes only the day-2 batch (source equality pushed
    # to the documents scan) and the corpus arrives as partition-pruned
    # fingerprint-store FileScans
    import pyspark.sql.functions as F

    from flink_cep_task_spark.operators.dedup import (
        INCREMENTAL_INCOMING_SOURCE,
        ROLLING_DAY2_SOURCE,
        append_winnow_fingerprints,
        dedup_substring_incremental_from_store,
    )
    from flink_cep_task_spark.plans.datapipe import _rolling_fp_store
    from flink_cep_task_spark.sources.tables import load_table, widen_small_scan

    docs = widen_small_scan(load_table(spark, SF_DIR, "documents"))
    path = _rolling_fp_store(spark, SF_DIR)
    append_winnow_fingerprints(
        docs.filter(F.col("source") == INCREMENTAL_INCOMING_SOURCE), path
    )
    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    df = dedup_substring_incremental_from_store(
        docs, spark.read.parquet(path), ROLLING_DAY2_SOURCE
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    doc_scans = [
        ln for ln in plan.splitlines()
        if "FileScan parquet" in ln and "documents.parquet" in ln
    ]
    assert doc_scans, "documents scan missing"
    for ln in doc_scans:
        assert f"EqualTo(source,{ROLLING_DAY2_SOURCE})" in ln, (
            f"day-2 probe reads more than the day-2 batch: {ln[:200]}"
        )
    store_scans = [
        ln for ln in plan.splitlines()
        if "FileScan parquet" in ln and "fingerprints" in ln
    ]
    assert store_scans, "fingerprint store scan missing"
    assert any(
        "PartitionFilters" in ln and "NOT (source" in ln for ln in store_scans
    ), "store scan lost its partition-pruning source filter"


def test_daily_cycle_day2_reads_only_batch_and_stores(spark):
    # the composed daily pipeline's scale contract (VERDICT r9 task #1):
    # in the day-2 probe, EVERY documents scan carries the pushed day-2
    # source equality — each stage tokenizes only the day's own batch,
    # and the corpus appears ONLY as partition-pruned store FileScans
    # (signatures by source, NB counts by batch). Scan-line COUNTS are
    # not asserted: the plan string reprints cached subtrees, so they
    # overcount; the batch-only filter is the property that scales.
    import pyspark.sql.functions as F

    from flink_cep_task_spark.operators.dedup import (
        INCREMENTAL_INCOMING_SOURCE,
        ROLLING_DAY2_SOURCE,
        append_minhash_signatures,
    )
    from flink_cep_task_spark.operators.text import (
        nb_model_from_counts,
        write_nb_count_store,
    )
    from flink_cep_task_spark.plans.datapipe import (
        _daily_cycle,
        _rolling_fp_store,
        _rolling_nb_count_store,
        _rolling_sig_store,
    )
    from flink_cep_task_spark.sources.tables import load_table, widen_small_scan

    docs = widen_small_scan(load_table(spark, SF_DIR, "documents"))
    day1 = docs.filter(F.col("source") == INCREMENTAL_INCOMING_SOURCE)
    sig_path = _rolling_sig_store(spark, SF_DIR)
    append_minhash_signatures(day1, sig_path)
    nb_path = _rolling_nb_count_store(spark, SF_DIR)
    write_nb_count_store(day1, nb_path, batch=INCREMENTAL_INCOMING_SOURCE,
                         dynamic=True)
    fp_path = _rolling_fp_store(spark, SF_DIR)
    model = nb_model_from_counts(
        spark.read.parquet(nb_path).filter(
            F.col("batch").isin("base", INCREMENTAL_INCOMING_SOURCE)
        )
    )
    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    df = _daily_cycle(
        spark, docs, ROLLING_DAY2_SOURCE, sig_path,
        F.col("source") != ROLLING_DAY2_SOURCE, model, fp_path,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    doc_scans = [
        ln for ln in plan.splitlines()
        if "FileScan parquet" in ln and "documents.parquet" in ln
    ]
    assert doc_scans, "documents scan missing"
    for ln in doc_scans:
        assert f"EqualTo(source,{ROLLING_DAY2_SOURCE})" in ln, (
            f"day-2 probe reads more than the day-2 batch: {ln[:200]}"
        )
    sig_scans = [
        ln for ln in plan.splitlines()
        if "FileScan parquet" in ln and "signatures" in ln
    ]
    assert sig_scans, "signature store scan missing"
    assert all(
        "PartitionFilters" in ln
        and "source" in ln.split("PartitionFilters")[1].split("]")[0]
        for ln in sig_scans
    ), "a signature store scan lost its source partition filter"
    nb_scans = [
        ln for ln in plan.splitlines()
        if "FileScan parquet" in ln and "nb_counts" in ln
    ]
    assert nb_scans, "NB count store scan missing"
    assert all(
        "PartitionFilters" in ln
        and "batch" in ln.split("PartitionFilters")[1].split("]")[0]
        for ln in nb_scans
    ), "an NB count store scan lost its batch partition filter"
    fp_scans = [
        ln for ln in plan.splitlines()
        if "FileScan parquet" in ln and "fingerprints" in ln
    ]
    assert fp_scans, "fingerprint store scan missing"
    assert all(
        "PartitionFilters" in ln
        and "source" in ln.split("PartitionFilters")[1].split("]")[0]
        for ln in fp_scans
    ), "a fingerprint store scan lost its source partition filter"


def test_recrawl_and_stream_day2_plans_are_bounded(spark):
    # the round-12 composed cycles keep the family's plan contract: no
    # cartesian products (every dedup tier is an equi-join on
    # hash/band/fingerprint keys; the only nested-loop joins are the
    # sanctioned single-row scalar-consts broadcasts the NB scorer and
    # gopher gate share with daily_crawl_pipeline)
    for name in ("daily_crawl_recrawl", "daily_crawl_stream_day2"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name


def test_label_maintenance_and_stream_recrawl_plans_are_bounded(spark, tmp_path):
    # round-13 composed cycles hold the same plan contract as their
    # r12 siblings: no cartesian products anywhere in the composition.
    # (The label/signature store FileScans live inside the eager CC
    # fixpoint jobs, not the returned frame's plan — the epoch pin is
    # asserted at the reader below instead.)
    plan = _plan(spark, "cluster_label_maintenance")
    assert "CartesianProduct" not in plan

    plan = _plan(spark, "daily_crawl_stream_recrawl")
    assert "CartesianProduct" not in plan

    # the label-store reader — the ONE consumer-side read every probe
    # in the lifecycle uses — pins exactly one epoch as a PARTITION
    # filter: retired epochs were never in a pinned listing, which is
    # what makes retire_label_epochs safe by construction
    from flink_cep_task_spark.operators.dedup import (
        read_cluster_label_store,
        write_cluster_label_store,
    )

    lab_path = str(tmp_path / "labels")
    labels = spark.createDataFrame(
        [(2, 1)], "doc_id LONG, cluster_id LONG"
    )
    for ep in ("base", "rebuilt"):
        write_cluster_label_store(labels, lab_path, epoch=ep, dynamic=True)
    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    rplan = (
        read_cluster_label_store(spark, lab_path, "rebuilt")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    scans = [ln for ln in rplan.splitlines() if "FileScan parquet" in ln]
    assert scans and all(
        "PartitionFilters" in ln
        and "epoch" in ln.split("PartitionFilters")[1].split("]")[0]
        for ln in scans
    ), "the label store read must prune to its epoch partition"
