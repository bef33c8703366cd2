"""Ports of the reference's unit behaviors (FIXTURES.md §3 / SURVEY.md §5)
plus divergence-documenting tests for quirks Q1/Q2 (SURVEY.md §2.1)."""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

from pyspark.sql import functions as F

from flink_cep_task_spark.plans.cep import evaluate_rules
from flink_cep_task_spark.rules import Rule
from flink_cep_task_spark.schemas import METRIC_SCHEMA
from flink_cep_task_spark.streaming.state import first_event_aligned_tumbling


def _metric(ts_s: float, tags: dict, metrics: dict):
    return (
        dt.datetime.utcfromtimestamp(ts_s),
        tags,
        {k: Decimal(v) for k, v in metrics.items()},
    )


def _metrics_df(spark, rows):
    return spark.createDataFrame([_metric(*r) for r in rows], METRIC_SCHEMA)


def _sum_rule(limit="5", minutes=1, op=">"):
    return Rule(
        rule_id=1, window_type="tumbling", window_minutes=minutes,
        grouping_keys=("t_g",), agg_type="SUM", agg_field="m",
        limit_op=op, limit=limit,
    )


def test_sum_fold_and_threshold(spark):
    """WindowTest.testResult: values 5 and 7 in one window sum to 12, and the
    `> 5` threshold passes (WindowTest.java:16-35)."""
    df = _metrics_df(spark, [(1, {"t_g": "x"}, {"m": 5}), (5, {"t_g": "x"}, {"m": 7})])
    out = evaluate_rules(spark, df, [_sum_rule()]).collect()
    assert len(out) == 1
    assert out[0].agg_value == 12.0


def test_avg(spark):
    """WindowTest.java:37-40: AVG of 5 and 7 = 6 (exactly — correct SQL
    divisor, unlike reference quirk Q2 whose divisor uses the shared
    buffer size, Window.java:85)."""
    rule = Rule(rule_id=1, window_type="tumbling", window_minutes=1,
                grouping_keys=("t_g",), agg_type="AVG", agg_field="m",
                limit_op=">", limit="5")
    df = _metrics_df(spark, [(1, {"t_g": "x"}, {"m": 5}), (5, {"t_g": "x"}, {"m": 7})])
    out = evaluate_rules(spark, df, [rule]).collect()
    assert len(out) == 1
    assert out[0].agg_value == 6.0


def test_half_open_membership(spark):
    """Window.java:66-68 / WindowTest.testIsHit: [start, end) half-open —
    an event exactly at a window's end lands in the NEXT window."""
    rule = _sum_rule(limit="0", minutes=1, op=">")
    df = _metrics_df(spark, [(60, {"t_g": "x"}, {"m": 1}), (119, {"t_g": "x"}, {"m": 2}),
                             (120, {"t_g": "x"}, {"m": 4})])
    out = {r.window_start: r.agg_value for r in evaluate_rules(spark, df, [rule]).collect()}
    assert out == {60: 3.0, 120: 4.0}


def test_threshold_gate_suppresses(spark):
    """Rule.apply/Window.result: failing windows emit nothing."""
    df = _metrics_df(spark, [(1, {"t_g": "x"}, {"m": 5})])
    assert evaluate_rules(spark, df, [_sum_rule(limit="100")]).count() == 0


def test_equal_seq_versions_later_listed_wins(spark):
    """Two versions of one rule with the same seq (the default 0): the
    engine keeps the later-listed one, as compact_rule_list and the
    oracle built on it do — in either order."""
    df = _metrics_df(spark, [(1, {"t_g": "x"}, {"m": 50})])
    strict, loose = _sum_rule(limit="100"), _sum_rule(limit="0")
    assert evaluate_rules(spark, df, [strict, loose]).count() == 1
    assert evaluate_rules(spark, df, [loose, strict]).count() == 0


def test_all_six_comparators(spark):
    df = _metrics_df(spark, [(1, {"t_g": "x"}, {"m": 5})])
    for op, limit, expected in [
        ("=", "5", 1), ("!=", "5", 0), (">", "4", 1), (">=", "5", 1),
        ("<", "5", 0), ("<=", "5", 1),
    ]:
        n = evaluate_rules(spark, df, [_sum_rule(limit=limit, op=op)]).count()
        assert n == expected, f"op {op} limit {limit}"


def test_null_measure_sql_semantics(spark):
    """Divergence test for quirk Q1: reference treats a missing measure as
    ZERO (Window.java:99-108) so MAX over {-3} with a missing row is 0; we
    use SQL semantics — nulls are ignored, MAX(-3) = -3."""
    rule = Rule(rule_id=1, window_type="tumbling", window_minutes=1,
                grouping_keys=("t_g",), agg_type="MAX", agg_field="m",
                limit_op="<", limit="0")
    df = _metrics_df(spark, [(1, {"t_g": "x"}, {"m": -3}), (2, {"t_g": "x"}, {"other": 9})])
    out = evaluate_rules(spark, df, [rule]).collect()
    assert len(out) == 1
    assert out[0].agg_value == -3.0


def test_sliding_window_cover(spark):
    """SlidingWindowAssigner semantics: an event belongs to every sliding
    window [s, s+size) covering it; size=2min slide=1min ⇒ 2 windows."""
    rule = Rule(rule_id=1, window_type="sliding", window_minutes=2,
                window_slide_minutes=1, grouping_keys=("t_g",),
                agg_type="SUM", agg_field="m", limit_op=">", limit="0")
    df = _metrics_df(spark, [(150, {"t_g": "x"}, {"m": 1})])
    rows = evaluate_rules(spark, df, [rule]).collect()
    assert sorted(r.window_start for r in rows) == [60, 120]
    assert all(r.window_start <= 150 < r.window_end for r in rows)


def test_global_window_single(spark):
    """AllWindowAssigner.java:23-30: one unbounded window per group for its
    whole lifetime (and unlike the reference, it actually emits — Q5)."""
    rule = Rule(rule_id=1, window_type="global", grouping_keys=("t_g",),
                agg_type="SUM", agg_field="m", limit_op=">", limit="0")
    df = _metrics_df(spark, [(1, {"t_g": "x"}, {"m": 5}), (10**6, {"t_g": "x"}, {"m": 7})])
    out = evaluate_rules(spark, df, [rule]).collect()
    assert len(out) == 1
    assert out[0].agg_value == 12.0
    assert out[0].window_start is None and out[0].window_end is None


def test_rule_fanout_multi_rule_isolation(spark):
    """Q8 regression: one event matching two rules must produce two
    independent rows (the reference mutates and re-emits one object,
    PartitionEngine.java:44-48)."""
    r1 = _sum_rule()
    r2 = Rule(rule_id=2, window_type="tumbling", window_minutes=1,
              grouping_keys=("t_g",), agg_type="MAX", agg_field="m",
              limit_op=">", limit="0")
    df = _metrics_df(spark, [(1, {"t_g": "x"}, {"m": 9})])
    out = evaluate_rules(spark, df, [r1, r2])
    assert out.count() == 2
    assert {r.rule_id for r in out.collect()} == {1, 2}


def test_tag_containment(spark):
    """Rule.isHit (Rule.java:63-66): metric matches only if its tag keys
    contain ALL grouping keys."""
    rule = Rule(rule_id=1, window_type="global", grouping_keys=("t_a", "t_b"),
                agg_type="SUM", agg_field="m", limit_op=">", limit="0")
    df = _metrics_df(spark, [
        (1, {"t_a": "1", "t_b": "2"}, {"m": 5}),
        (2, {"t_a": "1"}, {"m": 7}),  # missing t_b → no match
    ])
    out = evaluate_rules(spark, df, [rule]).collect()
    assert len(out) == 1
    assert out[0].agg_value == 5.0
    assert out[0].group_id == "1_1_2"


def test_first_event_aligned_tumbling_compat(spark):
    """Q3 compat mode pinned to TumblingWindowAssignerTest: first event at
    t=1ms with a 4-minute rule seeds window [1, 240001); an event at
    240101ms opens [240001, 480001) (TumblingWindowAssignerTest.java:17-59)."""
    rows = [
        (0.001, {"t_g": "x"}, {"m": 1}),
        (0.005, {"t_g": "x"}, {"m": 2}),     # reuses [1, 240001)
        (240.101, {"t_g": "x"}, {"m": 4}),   # next window [240001, 480001)
    ]
    df = _metrics_df(spark, rows).withColumn(
        "agg_input", F.element_at("metrics", "m")
    ).withColumn("group_id", F.element_at("tags", "t_g"))
    out = first_event_aligned_tumbling(
        df, ["group_id"], window_minutes=4
    ).collect()
    by_start = {r.window_start_ms: r for r in out}
    assert set(by_start) == {1, 240001}
    assert by_start[1].window_end_ms == 240001
    assert float(by_start[1].agg_sum) == 3.0
    assert float(by_start[240001].agg_sum) == 4.0


def test_first_event_aligned_tumbling_keeps_null_groups(spark):
    """The t0 re-join is null-safe: rows whose group key is NULL form their
    own group (the min() OVER window semantics this helper replaced) — a
    plain equi-join would silently drop them."""
    rows = [
        (0.001, {"t_other": "x"}, {"m": 1}),   # no t_g tag → NULL group
        (0.005, {"t_other": "x"}, {"m": 2}),
        (0.002, {"t_g": "y"}, {"m": 4}),
    ]
    df = _metrics_df(spark, rows).withColumn(
        "agg_input", F.element_at("metrics", "m")
    ).withColumn("group_id", F.element_at("tags", "t_g"))
    out = first_event_aligned_tumbling(df, ["group_id"], window_minutes=4).collect()
    by_group = {r.group_id: r for r in out}
    assert set(by_group) == {None, "y"}
    assert float(by_group[None].agg_sum) == 3.0
    assert by_group[None].window_start_ms == 1  # t0 from the NULL group itself
    assert float(by_group["y"].agg_sum) == 4.0


def test_first_event_aligned_tumbling_group_cardinality_guard(spark):
    """The broadcast-boundedness constraint is executable (VERDICT r5 task
    #4): past max_broadcast_groups distinct groups the call raises and
    names the stateful fallback, instead of letting the per-group t0
    broadcast OOM an executor. Under the limit (and with the guard
    disabled) the same input evaluates normally."""
    import pytest

    rows = [
        (0.001 + i, {"t_g": f"g{i}"}, {"m": 1}) for i in range(5)
    ]
    df = _metrics_df(spark, rows).withColumn(
        "agg_input", F.element_at("metrics", "m")
    ).withColumn("group_id", F.element_at("tags", "t_g"))
    with pytest.raises(ValueError, match="streaming_first_event_tumbling"):
        first_event_aligned_tumbling(
            df, ["group_id"], window_minutes=4, max_broadcast_groups=3
        )
    ok = first_event_aligned_tumbling(
        df, ["group_id"], window_minutes=4, max_broadcast_groups=5
    )
    assert ok.count() == 5
    no_guard = first_event_aligned_tumbling(
        df, ["group_id"], window_minutes=4, max_broadcast_groups=None
    )
    assert no_guard.count() == 5


def test_epoch_vs_first_event_alignment_divergence(spark):
    """Documents the Q3 divergence: default engine = epoch-aligned (event at
    t=1ms falls in window [0, 240s)), compat mode = first-event-aligned
    (window starts at 1ms)."""
    df = _metrics_df(spark, [(0.001, {"t_g": "x"}, {"m": 1})])
    rule = Rule(rule_id=1, window_type="tumbling", window_minutes=4,
                grouping_keys=("t_g",), agg_type="SUM", agg_field="m",
                limit_op=">", limit="0")
    out = evaluate_rules(spark, df, [rule]).collect()
    assert out[0].window_start == 0 and out[0].window_end == 240


def test_sliding_gap_windows_slide_greater_than_size(spark, ddb):
    """slide > size ⇒ sampled (gap) windows: events between windows belong
    to NOTHING. The reference's SlidingWindowAssigner can't express this
    (its TODO admits a contiguity assumption); the engine and oracle agree
    on the principled semantics."""
    import duckdb as _duckdb
    import json as _json

    from flink_cep_task_spark.oracle import cep_oracle_sql
    from flink_cep_task_spark.plans.cep import evaluate_rules
    from flink_cep_task_spark.rules import Rule
    from flink_cep_task_spark.sources.jsonline import parse_metric_lines

    rule = Rule(rule_id=1, window_type="sliding", window_minutes=1,
                window_slide_minutes=3, grouping_keys=("t_g",),
                agg_type="SUM", agg_field="m", limit_op=">", limit="0")
    base_s = 1_699_999_920  # = 9_444_444 × 180 ⇒ truly slide-aligned
    events = [
        {"eventTime": (base_s + 30) * 1000, "t_g": "g", "m": 1},    # in [0,1min)
        {"eventTime": (base_s + 90) * 1000, "t_g": "g", "m": 10},   # GAP: no window
        {"eventTime": (base_s + 180) * 1000, "t_g": "g", "m": 100}, # in [3,4min)
    ]
    metrics = parse_metric_lines(
        spark.createDataFrame([( _json.dumps(e),) for e in events], ["value"])
    )
    got = sorted(
        (r.window_start - base_s, r.window_end - base_s, r.agg_value)
        for r in evaluate_rules(spark, metrics, [rule]).collect()
    )
    # gap event (m=10) lands nowhere; window length = size (1 min)
    assert got == [(0, 60, 1.0), (180, 240, 100.0)], got

    # oracle agrees on the same synthetic events
    con = _duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM (VALUES "
        + ", ".join(
            f"(epoch_ms({e['eventTime']}), 'click', {i}, {e['m']}, '{{}}')"
            for i, e in enumerate(events)
        )
        + ") AS t(ts, event_type, user_id, value, props)"
    )
    rule_ev = Rule(rule_id=1, window_type="sliding", window_minutes=1,
                   window_slide_minutes=3, grouping_keys=("t_event_type",),
                   agg_type="SUM", agg_field="value", limit_op=">", limit="0")
    oracle = sorted(
        (int(r[2]) - base_s, int(r[3]) - base_s, float(r[5]))
        for r in con.execute(cep_oracle_sql([rule_ev])).fetchall()
    )
    con.close()
    assert oracle == [(0, 60, 1.0), (180, 240, 100.0)], oracle


# --- session-window extension -------------------------------------------

def _session_rule(gap_minutes=1, limit="0", agg="SUM"):
    return Rule(
        rule_id=9, window_type="session", window_minutes=gap_minutes,
        grouping_keys=("t_g",), agg_type=agg, agg_field="m",
        limit_op=">", limit=limit,
    )


def test_session_merge_and_exact_gap_boundary(spark):
    """Events EXACTLY gap seconds apart still merge (Spark closes the
    boundary: an event landing on the previous session's end extends it);
    one second beyond the gap starts a new session. Bounds are
    [first, last + gap). The oracle's island build mirrors the closed
    boundary with a strict `> gap` break."""
    df = _metrics_df(spark, [
        (100, {"t_g": "x"}, {"m": 1}),
        (160, {"t_g": "x"}, {"m": 2}),   # exactly 60 s after 100 → merges
        (221, {"t_g": "x"}, {"m": 4}),   # 61 s after 160 → new session
    ])
    out = sorted(
        evaluate_rules(spark, df, [_session_rule()]).collect(),
        key=lambda r: r.window_start,
    )
    assert [(r.window_start, r.window_end, r.agg_value) for r in out] == [
        (100, 220, 3.0),   # 160 + 60
        (221, 281, 4.0),
    ]


def test_session_groups_are_independent(spark):
    """Session islands are per (rule, group): same timestamps in different
    groups never merge."""
    df = _metrics_df(spark, [
        (100, {"t_g": "x"}, {"m": 1}),
        (130, {"t_g": "y"}, {"m": 2}),
        (160, {"t_g": "x"}, {"m": 3}),
    ])
    out = evaluate_rules(spark, df, [_session_rule()]).collect()
    by_group = {r.group_id: (r.window_start, r.window_end, r.agg_value) for r in out}
    assert by_group == {
        "9_x": (100, 220, 4.0),
        "9_y": (130, 190, 2.0),
    }


def test_session_mixed_with_tumbling_in_one_plan(spark):
    """Heterogeneous window types evaluate together: the union-of-branches
    plan yields both the session rows and the tumbling rows."""
    tumb = _sum_rule(limit="0", minutes=1)
    df = _metrics_df(spark, [
        (10, {"t_g": "x"}, {"m": 5}),
        (200, {"t_g": "x"}, {"m": 7}),
    ])
    out = evaluate_rules(spark, df, [_session_rule(), tumb]).collect()
    rule_ids = sorted({r.rule_id for r in out})
    assert rule_ids == [1, 9]
    sess = sorted([r for r in out if r.rule_id == 9], key=lambda r: r.window_start)
    assert [(r.window_start, r.window_end) for r in sess] == [(10, 70), (200, 260)]
