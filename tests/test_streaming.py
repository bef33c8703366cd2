"""Streaming e2e: the Structured Streaming CEP pipeline must produce the
same results as the batch engine, rule updates must take effect across
restarts (compaction), and the stateful compat operator must work."""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import replace

import pytest

from pyspark.sql import functions as F

from flink_cep_task_spark.plans.cep import evaluate_rules
from flink_cep_task_spark.rules import Rule
from flink_cep_task_spark.sources.jsonline import parse_metric_lines
from flink_cep_task_spark.streaming.pipeline import (
    await_stream,
    build_streaming_cep,
    metrics_stream_from_text,
    run_to_memory,
)

FLUSH_TAG = "zzz_flush"


def _write_chunks(tmp_path, events: list[dict], n_chunks: int = 4) -> str:
    """Write events as ordered JSON-lines chunk files + two watermark-pusher
    files (append-mode windows only emit once the watermark passes them, and
    the watermark advances at micro-batch boundaries — so the pusher needs
    its own trailing batches).

    Spark's file source orders files by MODIFICATION TIME, not name — files
    written within the same mtime tick can arrive out of order and be
    dropped as late by the watermark. Stamp strictly increasing mtimes so
    arrival order is deterministic."""
    src = tmp_path / f"stream-{uuid.uuid4().hex[:8]}"
    src.mkdir()
    chunk = max(1, len(events) // n_chunks)
    max_t = max(e["eventTime"] for e in events)
    paths = []
    for i in range(0, len(events), chunk):
        p = src / f"{i:08d}.json"
        p.write_text("\n".join(json.dumps(e) for e in events[i : i + chunk]))
        paths.append(p)
    for j, off in enumerate([86_400_000, 86_500_000]):
        p = src / f"zz_flush_{j}.json"
        p.write_text(json.dumps({"eventTime": max_t + off, "t_g": FLUSH_TAG, "m": 0}))
        paths.append(p)
    base = time.time() - len(paths) - 10
    for k, p in enumerate(paths):
        os.utime(p, (base + k, base + k))
    return str(src)


def _events(n=200, step_s=30, base_ms=1_700_000_000_000) -> list[dict]:
    return [
        {
            "eventTime": base_ms + i * step_s * 1000,
            "t_g": f"g{i % 3}",
            "m": (i * 7) % 50,
        }
        for i in range(n)
    ]


RULES = [
    Rule(rule_id=1, window_type="tumbling", window_minutes=5,
         grouping_keys=("t_g",), agg_type="SUM", agg_field="m",
         limit_op=">", limit="50"),
    Rule(rule_id=2, window_type="sliding", window_minutes=10,
         window_slide_minutes=5, grouping_keys=("t_g",), agg_type="AVG",
         agg_field="m", limit_op=">", limit="20"),
]


def test_streaming_matches_batch(spark, tmp_path):
    """Append-mode streaming output == batch engine output on the same data
    (excluding the watermark-pusher group)."""
    events = _events()
    src = _write_chunks(tmp_path, events)
    metrics = metrics_stream_from_text(spark, src, max_files_per_trigger=1)
    windowed, global_s = build_streaming_cep(metrics, spark, RULES, watermark="1 minute")
    assert global_s is None
    name = f"out_{uuid.uuid4().hex[:8]}"
    run_to_memory(windowed, name, "append", str(tmp_path / "ckpt"))
    got = (
        spark.table(name)
        .filter(~F.col("group_id").contains(FLUSH_TAG))
        .collect()
    )

    batch_metrics = parse_metric_lines(
        spark.createDataFrame([(json.dumps(e),) for e in events], ["value"])
    )
    expected = evaluate_rules(spark, batch_metrics, RULES).collect()

    key = lambda r: (r.rule_id, r.group_id, r.window_start, r.window_end, r.agg_type, r.agg_value)
    assert sorted(map(key, got)) == sorted(map(key, expected))
    assert len(got) > 0


def test_streaming_global_update_mode(spark, tmp_path):
    """Global-window rules emit running aggregates in update mode (fixes
    reference quirk Q5 — AllWindowAssigner windows never fire)."""
    g_rule = Rule(rule_id=3, window_type="global", grouping_keys=("t_g",),
                  agg_type="MAX", agg_field="m", limit_op=">=", limit="0")
    events = _events(60)
    src = _write_chunks(tmp_path, events, n_chunks=2)
    metrics = metrics_stream_from_text(spark, src, max_files_per_trigger=1)
    windowed, global_s = build_streaming_cep(metrics, spark, [g_rule], watermark="1 minute")
    assert windowed is None
    name = f"glob_{uuid.uuid4().hex[:8]}"
    run_to_memory(global_s, name, "update", str(tmp_path / "ckpt_g"))
    # keep the LAST update per group: final state must equal the batch result
    final = {
        r.group_id: r.agg_value
        for r in spark.table(name).collect()  # updates arrive in batch order;
        # later rows overwrite earlier in this dict
        if not r.group_id.endswith(FLUSH_TAG)
    }
    batch_metrics = parse_metric_lines(
        spark.createDataFrame([(json.dumps(e),) for e in events], ["value"])
    )
    expected = {
        r.group_id: r.agg_value
        for r in evaluate_rules(spark, batch_metrics, [g_rule]).collect()
    }
    assert final == expected


def test_rule_update_across_restart(spark, tmp_path):
    """Reference quirk Q6 fix: a rule upsert (higher seq) changes behavior at
    the next run over the same source — the per-batch rule re-join always
    uses the compacted latest rule set."""
    events = _events(60)
    src = _write_chunks(tmp_path, events, n_chunks=2)
    loose = [RULES[0]]
    strict = [RULES[0], Rule(rule_id=1, window_type="tumbling", window_minutes=5,
                             grouping_keys=("t_g",), agg_type="SUM", agg_field="m",
                             limit_op=">", limit="10000", seq=5)]
    out_loose = f"r1_{uuid.uuid4().hex[:8]}"
    out_strict = f"r2_{uuid.uuid4().hex[:8]}"
    m1 = metrics_stream_from_text(spark, src)
    w1, _ = build_streaming_cep(m1, spark, loose, watermark="1 minute")
    run_to_memory(w1, out_loose, "append", str(tmp_path / "c1"))
    m2 = metrics_stream_from_text(spark, src)
    w2, _ = build_streaming_cep(m2, spark, strict, watermark="1 minute")
    run_to_memory(w2, out_strict, "append", str(tmp_path / "c2"))
    n_loose = spark.table(out_loose).filter(~F.col("group_id").contains(FLUSH_TAG)).count()
    n_strict = spark.table(out_strict).filter(~F.col("group_id").contains(FLUSH_TAG)).count()
    assert n_loose > 0
    assert n_strict == 0  # compacted seq=5 limit of 10000 suppresses everything


def test_streaming_equal_seq_versions_later_listed_wins(spark, tmp_path):
    """Two versions of rule 1 with the same seq: the streaming plan keeps
    the later-listed one, like the batch engine and the oracle."""
    src = _write_chunks(tmp_path, _events(60), n_chunks=2)
    strict = replace(RULES[0], limit="10000")
    counts = []
    for rules in ([strict, RULES[0]], [RULES[0], strict]):
        name = f"eq_{uuid.uuid4().hex[:8]}"
        w, _ = build_streaming_cep(
            metrics_stream_from_text(spark, src), spark, rules, watermark="1 minute"
        )
        run_to_memory(w, name, "append", str(tmp_path / f"c_{name}"))
        counts.append(
            spark.table(name).filter(~F.col("group_id").contains(FLUSH_TAG)).count()
        )
    assert counts[0] > 0 and counts[1] == 0


def test_streaming_first_event_tumbling_state(spark, tmp_path):
    """applyInPandasWithState compat operator: first-event-aligned windows
    close as later events arrive (reference Q3 semantics, watermark-free)."""
    from flink_cep_task_spark.streaming.state import streaming_first_event_tumbling

    base = 1_700_000_000_500  # deliberately NOT minute-aligned
    events = [
        {"eventTime": base, "t_g": "x", "m": 5},
        {"eventTime": base + 10_000, "t_g": "x", "m": 7},
        {"eventTime": base + 125_000, "t_g": "x", "m": 1},  # closes window 1 (2min)
        {"eventTime": base + 300_000, "t_g": "x", "m": 2},  # closes window 2
    ]
    src = tmp_path / "state-src"
    src.mkdir()
    t_base = time.time() - 60
    for i, e in enumerate(events):
        p = src / f"{i:04d}.json"
        p.write_text(json.dumps(e))
        os.utime(p, (t_base + i, t_base + i))
    lines = spark.readStream.option("maxFilesPerTrigger", 1).text(str(src))
    metrics = parse_metric_lines(lines).select(
        "event_time",
        F.element_at("tags", "t_g").alias("group_id"),
        F.element_at("metrics", "m").cast("double").alias("agg_input"),
    )
    # zero watermark delay: windows close as soon as the watermark (= max
    # observed event time) passes their end
    out = streaming_first_event_tumbling(metrics, window_minutes=2, watermark="0 seconds")
    name = f"st_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_state"))
        .trigger(availableNow=True).start()
    )
    await_stream(q, 120)
    rows = {r.window_start_ms: r for r in spark.table(name).collect()}
    assert base in rows, f"first window missing: {list(rows)}"
    assert rows[base].window_end_ms == base + 120_000
    assert rows[base].agg_sum == 12.0 and rows[base].agg_cnt == 2


def test_streaming_first_event_tumbling_discards_late_rows(spark, tmp_path):
    """A row below the watermark whose window already fired must be
    discarded, not resurrect the window. Spark drops late rows ahead of
    the operator only against the previous batch's watermark, and the
    late row here arrives in the batch whose watermark fires its window,
    so the operator's own discard is what keeps it out."""
    from flink_cep_task_spark.streaming.state import streaming_first_event_tumbling

    base = 1_700_000_000_000
    batches = [
        # batch 1: window [0,2min) opens; event at 3min pushes wm to 3min
        [{"eventTime": base, "t_g": "x", "m": 5},
         {"eventTime": base + 180_000, "t_g": "x", "m": 1}],
        # batch 2: LATE row for the already-fired [0,2min) window — discard
        [{"eventTime": base + 10_000, "t_g": "x", "m": 100}],
        # batch 3: watermark pusher far ahead to flush [2,4min)
        [{"eventTime": base + 10_000_000, "t_g": "x", "m": 0}],
        [{"eventTime": base + 10_060_000, "t_g": "x", "m": 0}],
    ]
    src = tmp_path / "late-state-src"
    src.mkdir()
    t_base = time.time() - 60
    for i, docs in enumerate(batches):
        p = src / f"{i:04d}.json"
        p.write_text("\n".join(json.dumps(e) for e in docs))
        os.utime(p, (t_base + i, t_base + i))
    lines = spark.readStream.option("maxFilesPerTrigger", 1).text(str(src))
    metrics = parse_metric_lines(lines).select(
        "event_time",
        F.element_at("tags", "t_g").alias("group_id"),
        F.element_at("metrics", "m").cast("double").alias("agg_input"),
    )
    out = streaming_first_event_tumbling(metrics, window_minutes=2, watermark="0 seconds")
    name = f"stl_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_state_late"))
        .trigger(availableNow=True).start()
    )
    await_stream(q, 120)
    fired = [
        (r.window_start_ms - base, r.agg_sum, r.agg_cnt)
        for r in spark.table(name).collect() if r.window_start_ms < base + 9_000_000
    ]
    # [0,2min) fired ONCE with only the in-time row; the late m=100 row is
    # gone; [2,4min) holds the 3min row.
    assert sorted(fired) == [(0, 5.0, 1), (120_000, 1.0, 1)], fired


def test_native_checkpoint_restart_resume(spark, tmp_path):
    """R1 for the NATIVE windowed path (build_streaming_cep — static
    rules, not the live rule store): stop after half the
    input, restart a NEW query from the SAME checkpoint, feed the rest.
    The union of both runs equals one continuous run — the [2,4) window
    spanning the restart fires exactly once, from state restored off the
    checkpoint."""
    rule = Rule(rule_id=7, window_type="tumbling", window_minutes=2,
                grouping_keys=("t_g",), agg_type="SUM", agg_field="m",
                limit_op=">", limit="0")
    base_ms = 1_700_000_040_000  # 2-min epoch aligned
    mk = lambda i: {"eventTime": base_ms + i * 60_000, "t_g": "g0", "m": 1}
    src = tmp_path / f"nrs-{uuid.uuid4().hex[:8]}"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt_native_restart")
    out_dir = str(tmp_path / "native_restart_out")
    t0 = time.time() - 120

    def write_file(idx: int, doc: dict) -> None:
        p = src / f"{idx:04d}.json"
        p.write_text(json.dumps(doc))
        os.utime(p, (t0 + idx, t0 + idx))

    def run_once() -> None:
        metrics = metrics_stream_from_text(spark, str(src), max_files_per_trigger=1)
        windowed, global_s = build_streaming_cep(
            metrics, spark, [rule], watermark="0 seconds"
        )
        assert global_s is None
        q = (
            windowed.writeStream.format("parquet").outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        await_stream(q, 120)

    for i in range(4):                      # first half: minutes 0..3
        write_file(i, mk(i))
    run_once()

    for i in range(4, 8):                   # second half: minutes 4..7
        write_file(i, mk(i))
    write_file(8, {"eventTime": base_ms + 12_000_000, "t_g": FLUSH_TAG, "m": 0})
    write_file(9, {"eventTime": base_ms + 12_060_000, "t_g": FLUSH_TAG, "m": 0})
    run_once()                              # NEW query, SAME checkpoint

    rows = spark.read.parquet(out_dir).collect()
    base_s = base_ms // 1000
    key = lambda r: (r.window_start - base_s, r.window_end - base_s, r.agg_value)
    got = sorted(key(r) for r in rows
                 if r.rule_id == 7 and FLUSH_TAG not in r.group_id)
    assert got == [(0, 120, 2.0), (120, 240, 2.0), (240, 360, 2.0), (360, 480, 2.0)]


def test_streaming_session_rule_matches_batch(spark, tmp_path):
    """A SESSION-window rule through build_streaming_cep rides the native
    F.session_window state and must equal the batch engine's session
    evaluation on the same data (the spec-group branch used to fall
    through to the sliding arm and mis-window)."""
    s_rule = Rule(rule_id=9, window_type="session", window_minutes=2,
                  grouping_keys=("t_g",), agg_type="SUM", agg_field="m",
                  limit_op=">", limit="0")
    events = _events(60)
    src = _write_chunks(tmp_path, events, n_chunks=2)
    metrics = metrics_stream_from_text(spark, src, max_files_per_trigger=1)
    windowed, global_s = build_streaming_cep(
        metrics, spark, [s_rule], watermark="1 minute"
    )
    assert global_s is None
    name = f"sess_{uuid.uuid4().hex[:8]}"
    run_to_memory(windowed, name, "append", str(tmp_path / "ckpt_sess"))
    got = (
        spark.table(name).filter(~F.col("group_id").contains(FLUSH_TAG)).collect()
    )
    batch_metrics = parse_metric_lines(
        spark.createDataFrame([(json.dumps(e),) for e in events], ["value"])
    )
    expected = evaluate_rules(spark, batch_metrics, [s_rule]).collect()
    key = lambda r: (r.rule_id, r.group_id, r.window_start, r.window_end,
                     r.agg_type, r.agg_value)
    assert sorted(map(key, got)) == sorted(map(key, expected))
    assert len(got) > 0


def test_live_engine_mixed_session_and_tumbling_rules(spark, tmp_path):
    """The LIVE engine with a MIXED rule store (dynamic tumbling rule +
    session rule): the session spec rides a native F.session_window
    branch unioned onto the dynamic-window operator, and the combined
    append stream equals the batch engine on the same data. (Session rows
    used to flow into the dynamic operator's sliding arm.)"""
    from flink_cep_task_spark.streaming.live import RuleFileStore, build_live_cep

    events = _events(80)
    src = _write_chunks(tmp_path, events, n_chunks=2)
    store = RuleFileStore(str(tmp_path / "rules_mixed.json"))
    store.upsert({"ruleId": 1, "windowType": "tumbling", "windowMinutes": 5,
                  "groupingKeyNames": ["t_g"], "aggregatorFunctionType": "SUM",
                  "aggregateFieldName": "m", "limitOperatorType": ">", "limit": 50})
    store.upsert({"ruleId": 9, "windowType": "session", "windowMinutes": 2,
                  "groupingKeyNames": ["t_g"], "aggregatorFunctionType": "SUM",
                  "aggregateFieldName": "m", "limitOperatorType": ">", "limit": 0})
    metrics = metrics_stream_from_text(spark, src, max_files_per_trigger=1)
    out = build_live_cep(metrics, spark, store.path, watermark="1 minute")
    name = f"mixed_{uuid.uuid4().hex[:8]}"
    run_to_memory(out, name, "append", str(tmp_path / "ckpt_mixed"), timeout_s=300)
    got = (
        spark.table(name).filter(~F.col("group_id").contains(FLUSH_TAG)).collect()
    )
    batch_metrics = parse_metric_lines(
        spark.createDataFrame([(json.dumps(e),) for e in events], ["value"])
    )
    rules = [
        Rule(rule_id=1, window_type="tumbling", window_minutes=5,
             grouping_keys=("t_g",), agg_type="SUM", agg_field="m",
             limit_op=">", limit="50"),
        Rule(rule_id=9, window_type="session", window_minutes=2,
             grouping_keys=("t_g",), agg_type="SUM", agg_field="m",
             limit_op=">", limit="0"),
    ]
    expected = evaluate_rules(spark, batch_metrics, rules).collect()
    key = lambda r: (r.rule_id, r.group_id, r.window_start, r.window_end,
                     r.agg_type, r.agg_value)
    assert sorted(map(key, got)) == sorted(map(key, expected))
    assert {r.rule_id for r in got} == {1, 9}, "one rule family produced nothing"


def test_streaming_gap_sliding_rule_matches_batch(spark, tmp_path):
    """slide > size (SAMPLED gap windows — F.window rejects the spec
    outright): the streaming fold assigns windows with the batch
    engine's arithmetic, closes a gap window at start+size and must
    equal the batch engine — including that events BETWEEN windows
    count nowhere."""
    r = Rule(rule_id=5, window_type="sliding", window_minutes=4,
             window_slide_minutes=10, grouping_keys=("t_g",),
             agg_type="SUM", agg_field="m", limit_op=">", limit="0")
    events = _events(60)
    src = _write_chunks(tmp_path, events, n_chunks=2)
    metrics = metrics_stream_from_text(spark, src, max_files_per_trigger=1)
    windowed, global_s = build_streaming_cep(
        metrics, spark, [r], watermark="1 minute"
    )
    assert global_s is None
    name = f"gap_{uuid.uuid4().hex[:8]}"
    run_to_memory(windowed, name, "append", str(tmp_path / "ckpt_gap"))
    got = (
        spark.table(name).filter(~F.col("group_id").contains(FLUSH_TAG)).collect()
    )
    batch_metrics = parse_metric_lines(
        spark.createDataFrame([(json.dumps(e),) for e in events], ["value"])
    )
    expected = evaluate_rules(spark, batch_metrics, [r]).collect()
    key = lambda r: (r.rule_id, r.group_id, r.window_start, r.window_end,
                     r.agg_type, r.agg_value)
    assert sorted(map(key, got)) == sorted(map(key, expected))
    assert len(got) > 0
