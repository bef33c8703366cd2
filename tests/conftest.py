"""Shared fixtures: one SparkSession per test session + a DuckDB oracle
comparator that mimics the driver's correctness gate (row-count + schema +
order-insensitive value comparison)."""

from __future__ import annotations

import math
import os

import duckdb
import pandas as pd
import pytest

from flink_cep_task_spark.session import get_spark
from flink_cep_task_spark.sources.tables import TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def ddb():
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{SF_DIR}/{name}.parquet')"
        )
    yield con
    con.close()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name and rows by all values — order-insensitive form."""
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), na_position="first").reset_index(drop=True)
    return df


def assert_parity(spark_df, ddb_con, oracle_sql: str, float_tol: float = 1e-9) -> None:
    """Driver-style comparison: same row count, same column names, same
    values (order-insensitive; floats within tolerance, everything else
    exact)."""
    left = normalize(spark_df.toPandas())
    right = normalize(ddb_con.execute(oracle_sql).df())
    assert list(left.columns) == list(right.columns), (
        f"schema mismatch: spark={list(left.columns)} oracle={list(right.columns)}"
    )
    # dtype *kind* must agree (int vs float vs object) — a value-identical
    # result can still hash-mismatch in the driver if one engine returns
    # int64 and the other float64 (e.g. DuckDB windowed sum → HUGEINT).
    for col in left.columns:
        lk, rk = left[col].dtype.kind, right[col].dtype.kind
        if {lk, rk} <= {"i", "u"}:
            continue
        assert lk == rk, f"dtype kind mismatch on {col}: spark={left[col].dtype} oracle={right[col].dtype}"
    assert len(left) == len(right), f"row count mismatch: spark={len(left)} oracle={len(right)}"
    for col in left.columns:
        lv, rv = left[col].tolist(), right[col].tolist()
        for i, (a, b) in enumerate(zip(lv, rv)):
            if a is None and b is None:
                continue
            if isinstance(a, float) or isinstance(b, float):
                a_nan = a is None or (isinstance(a, float) and math.isnan(a))
                b_nan = b is None or (isinstance(b, float) and math.isnan(b))
                if a_nan or b_nan:
                    assert a_nan and b_nan, f"{col}[{i}]: {a!r} != {b!r}"
                    continue
                assert math.isclose(float(a), float(b), rel_tol=float_tol, abs_tol=float_tol), (
                    f"{col}[{i}]: {a!r} != {b!r}"
                )
            else:
                assert a == b, f"{col}[{i}]: {a!r} != {b!r}"


# --- two-tier suite (VERDICT r12 task #6) ---------------------------------
# The composed multi-day cycles and streaming e2e replays dominate suite
# wall-clock (measured round 13, full run 26m14s). They carry the `slow`
# marker (registered in pytest.ini) so a fast iteration gate exists:
#     python -m pytest tests/ -q -m "not slow"
# The fast tier keeps at least one in-gate representative per operator
# family (the oracle-parametrized test_queries/test_cep_e2e entries stay
# except the composed-cycle params, which the slow tier re-proves
# end-to-end and scripts/local_gate.py re-checks every round).
# Membership is by nodeid so parametrized oracle entries can be tiered;
# measured durations (s) from the round-13 full run are noted inline.
_SLOW_TESTS = {
    "test_plans.py::test_no_cartesian_products_anywhere",  # 187.9 (whole registry)
    "test_streaming_ops.py::test_followed_by_timeout_stream_emits_unmatched",  # 42.0
    "test_store_compaction.py::test_label_epoch_gc_after_cadence",  # 37.1
    "test_store_compaction.py::test_cluster_label_three_day_cadence_then_compaction",  # 36.4
    "test_crawl_stream.py::test_daily_crawl_stream_multibatch_replay_and_admissions",  # 35.8
    "test_rolling_store.py::test_clusters_day1_pinned_and_rerun_idempotent",  # 28.6
    "test_crawl_stream.py::test_stream_recrawl_readmission_replaces_not_merges",  # 28.0
    "test_streaming.py::test_live_engine_mixed_session_and_tumbling_rules",  # 23.4
    "test_queries.py::test_query_matches_oracle[daily_crawl_stream]",  # 23.1
    "test_two_phase_replay.py::test_late_data_policy_drops_and_keeps_exactly",  # 22.2
    "test_daily_crawl.py::test_full_cycle_reruns_identically",  # 22.2
    "test_recrawl.py::test_recrawl_overwrites_per_doc_rows_and_only_rebuild_splits",  # 22.0
    "test_plans.py::test_label_maintenance_and_stream_recrawl_plans_are_bounded",  # 21.3
    "test_fresh_session.py::test_driver_shapes_in_fresh_process",  # 20.1
    "test_crawl_stream.py::test_stream_day2_consumes_compacted_admissions",  # 19.9
    "test_live_rules.py::test_checkpoint_restart_resume",  # 17.7
    "test_streaming_ops.py::test_followed_by_stream_matches_batch",  # 17.4
    "test_recrawl.py::test_composed_recrawl_pipeline_store_states",  # 16.3
    "test_queries.py::test_query_matches_oracle[dedup_clusters_rolling]",  # 16.0
    "test_label_lifecycle.py::test_lifecycle_splits_refetched_doc_and_survives_gc",  # 15.8
    "test_rolling_store.py::test_clusters_day2_joins_day1_cluster_via_advanced_stores",  # 15.7
    "test_live_rules.py::test_rule_midstream_upsert_and_delete",  # 15.6
    "test_two_phase_replay.py::test_rule_upsert_gates_open_windows_with_new_limit",  # 15.6
    "test_queries.py::test_query_matches_oracle[daily_crawl_recrawl]",  # 15.5
    "test_asof_null.py::test_state_asof_null_value_parity",  # 14.1 setup (fresh proc)
    "test_queries.py::test_query_matches_oracle[daily_crawl_stream_recrawl]",  # 13.8
    "test_cep_e2e.py::test_cep_query_matches_oracle[cep_followed_by_stream]",  # 13.8
    "test_queries.py::test_query_matches_oracle[cluster_label_maintenance]",  # 13.2
    "test_daily_crawl.py::test_registered_pipeline_advances_rollup_store_without_breaking_peers",  # 12.5
    "test_plans.py::test_recrawl_and_stream_day2_plans_are_bounded",  # 12.5
    "test_streaming.py::test_native_checkpoint_restart_resume",  # 12.1
    "test_queries.py::test_query_matches_oracle[daily_crawl_pipeline]",  # 12.0
    "test_daily_crawl.py::test_day2_decisions_flow_through_day1_admissions",  # 11.9
    "test_streaming.py::test_streaming_gap_sliding_rule_matches_batch",  # 11.2
    "test_rules_fuzz.py::test_wire_parser_twins_agree_and_never_crash",  # 10.9
    "test_kafka_ingest.py::test_kafka_ingest_end_to_end_matches_batch",  # 10.4
    "test_cep_e2e.py::test_cep_query_matches_oracle[cep_late_data_policy]",  # 10.0
    # second measured batch (fast-tier durations, same round): everything
    # still >= 10 s after the first cut; each family keeps a faster
    # in-tier representative (streaming parity via the session/global/gap
    # variants, live CRUD via test_new_tag_key/test_rule_midstream, the
    # rolling stores via the sub-10s chain tests)
    "test_queries.py::test_query_matches_oracle[daily_crawl_stream_day2]",  # 24.2 (fresh-process full replay)
    "test_streaming.py::test_streaming_matches_batch",  # 18.3
    "test_cep_e2e.py::test_cep_query_matches_oracle[cep_not_followed_by_stream]",  # 18.1
    "test_store_compaction.py::test_three_day_cadence_then_compaction",  # 16.1
    "test_live_rules.py::test_live_cep_matches_batch",  # 14.2
    "test_streaming_ops.py::test_rocksdb_state_store_matches_default_provider",  # 12.5
    "test_jsonline_fuzz.py::test_parser_matches_model_and_never_crashes",  # 11.7
    "test_live_rules.py::test_watermark_drops_late_rows_keeps_out_of_order",  # 11.3
    "test_live_rules.py::test_live_global_rules_update_mode",  # 11.2
    "test_live_rules.py::test_dual_socket_rules_and_metrics",  # 10.8
    "test_asof_null.py::test_snapshot_diff_null_value_parity",  # 10.7 setup (fresh proc)
    "test_live_rules.py::test_gap_rule_survives_gap_only_micro_batch",  # 10.5
    "test_fb_stream_gate.py::test_fb_workdir_empty_event_types",  # 10.1
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        key = item.nodeid.rsplit("/", 1)[-1]
        if key in _SLOW_TESTS:
            item.add_marker(pytest.mark.slow)
