"""backfill_batch: closed loop, one caller.

A fixed backlog of JSON lines is evaluated again and again by
``parse_metric_lines`` -> ``plans.cep.evaluate_rules`` against the 12
``MANY_RULES``, compiled from their wire documents at the start of each
pass. Timed passes write to the noop sink; one untimed pass over the same
input is checked against the oracle. Each pass time is scaled to the
reference host speed over that pass (``tracing.HostSpeed``).

A pass is one batch: its whole backlog is due when the pass starts, the
rules it applies are compiled then, and every result becomes visible when
it commits. So batch, alert and rule-update latency are all the pass time
here; the streaming workload is where they differ.
"""

from __future__ import annotations

import json
import os
import time

import check
import gen
from tracing import CpuWindow, ProcSampler, last_stage_id, pct, shuffle_write

from flink_cep_task_spark.operators.fanout import fanout_rules
from flink_cep_task_spark.operators.windows import (
    aggregate_windows,
    assign_windows,
    evaluate_windows,
)
from flink_cep_task_spark.plans.cep import evaluate_rules
from flink_cep_task_spark.plans.cep_queries import MANY_RULES
from flink_cep_task_spark.rules import compact_rule_list, compact_rules, parse_rule_lines, rules_df
from flink_cep_task_spark.sources.jsonline import parse_metric_lines

WORKLOAD = "backfill_batch"
WARMUPS = 2


def _noop(df) -> float:
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


def run_backfill(run) -> dict:
    sampler = ProcSampler().start()
    try:
        return _run(run, sampler)
    finally:
        sampler.stop()


def _run(run, sampler: ProcSampler) -> dict:
    spans, m = run.spans, {}
    with spans.span("setup.session"):
        spark = run.start_spark()
    with spans.span("setup.generate"):
        ev = gen.generate(WORKLOAD, run.seed)
        indir = run.dir("input")
        for k, text in enumerate(gen.file_texts(ev)):
            with open(os.path.join(indir, f"part-{k:05d}.jsonl"), "w") as fh:
                fh.write(text)
    lines = len(ev)
    wire = [json.dumps(gen.rule_doc(r)) for r in MANY_RULES]

    # warm-up passes over the whole backlog: the first pays class loading
    # and code generation, the second lets the JIT compiler catch up
    for i in range(WARMUPS):
        with spans.span("setup.warmup", drain=i):
            _noop(evaluate_rules(spark, parse_metric_lines(spark.read.text(indir)), MANY_RULES))

    if run.trace:
        last_stage_id(spark)  # the first REST read starts the UI's API handler

    passes, compile_, plan, sink, traced_flags, rest = [], [], [], [], [], []
    epochs = []  # (start, end) of each pass in epoch seconds
    cpu = CpuWindow()
    t_begin, begin_epoch = time.perf_counter(), time.time()
    setup_wall = t_begin - run.t_start
    k = 0
    while not passes or time.perf_counter() - t_begin < run.seconds:
        # in a traced run every other pass is traced and reads the status
        # REST API inside its timed span; trace.overhead_ratio sets that
        # work against the untraced passes
        traced = run.trace and k % 2 == 1
        spans.enabled = traced
        e0 = time.time()
        with spans.span("pass", k=k) as sid:
            t0 = time.perf_counter()
            with spans.span("rules.compile", sid):
                rules = parse_rule_lines(wire)
            t1 = time.perf_counter()
            with spans.span("cep.plan_build", sid):
                df = evaluate_rules(spark, parse_metric_lines(spark.read.text(indir)), rules)
            plan.append(time.perf_counter() - t1)
            tr = time.perf_counter()
            if traced:
                with spans.span("trace.rest", sid):
                    stage0 = last_stage_id(spark)
            t2 = time.perf_counter()
            with spans.span("sink.noop", sid):
                _noop(df)
            t3 = time.perf_counter()
            if traced:
                with spans.span("trace.rest", sid):
                    shuffle_write(spark, stage0)
            t4 = time.perf_counter()
        if traced:
            rest.append(t2 - tr + t4 - t3)
        passes.append(t4 - t0)
        epochs.append((e0, time.time()))
        compile_.append(t1 - t0)
        sink.append(t3 - t2)
        traced_flags.append(traced)
        k += 1
    spans.enabled = run.trace
    m.update(cpu.finish(run.cores))

    speed = run.speed.load()
    untraced = [(p, e) for p, e, t in zip(passes, epochs, traced_flags) if not t]
    wall = _end_to_end(lines, setup_wall, [p for p, _ in untraced])
    m.update(_end_to_end(
        lines, setup_wall * speed.scale(run.t_start_epoch, begin_epoch),
        [p * speed.scale(*e) for p, e in untraced],
    ))
    m["rules.compile_ms"] = pct(compile_, 50) * 1000
    m["cep.plan_build_ms"] = pct(plan, 50) * 1000
    m["sink.write_ms_p50"] = pct(sink, 50) * 1000
    m["rules.active"] = len(compact_rule_list(rules))

    # untimed checked pass over the same input
    with spans.span("check.engine"):
        checked = evaluate_rules(
            spark, parse_metric_lines(spark.read.text(indir)), MANY_RULES
        ).toPandas()
    with spans.span("check.oracle"):
        oracle = check.oracle_rows(check.events_frame(ev), MANY_RULES)
    mismatch = check.mismatch_ratio(checked, oracle)

    if run.trace:
        m.update(_layers(run, spark, indir, rules, lines))
        # too few passes to set traced against untraced pass times apart
        # from noise, so the tracing work itself over an untraced pass
        pass_s = wall["batch_latency_p50_ms"] / 1000
        m["trace.overhead_ratio"] = (pct(rest, 50) if rest else 0.0) / pass_s
        m.update(dict.fromkeys(_STREAM_ONLY, 0.0))
    m["peak_rss_mb"] = wall["peak_rss_mb"] = sampler.peak / 2**20
    return {"metrics": m, "wall": wall, "mismatch": mismatch,
            "attempted": len(passes) + 1, "failed": 0}


def _end_to_end(lines: int, setup_s: float, pass_s: list[float]) -> dict:
    """End-to-end times from the set-up time and the untraced pass times."""
    pass_ms = [p * 1000 for p in pass_s]
    p50, p90 = pct(pass_ms, 50), pct(pass_ms, 90)
    return {
        "setup_s": setup_s,
        "events_per_s": lines / p50 * 1000,
        "batch_latency_p50_ms": p50,
        "batch_latency_p90_ms": p90,
        "alert_latency_p50_ms": p50,
        "alert_latency_p90_ms": p90,
        "rule_update_latency_p50_ms": p50,
    }


def _layers(run, spark, indir, rules, lines) -> dict:
    """Per-layer split of one pass by prefix materialisation: parse, then
    + fan-out, + window assignment, + aggregation and threshold."""
    spans = run.spans
    compacted = compact_rules(rules_df(spark, rules))
    parsed = parse_metric_lines(spark.read.text(indir))
    fanned = fanout_rules(parsed, compacted)
    assigned = assign_windows(fanned)
    # a layer's time is the difference of two prefixes; the faster of two
    # runs of each keeps noise from swamping the small layers
    with spans.span("layer.parse"):
        t_parse = min(_noop(parsed) for _ in range(2))
    with spans.span("layer.fanout"):
        t_fan = min(_noop(fanned) for _ in range(2))
    with spans.span("layer.assign"):
        t_assign = min(_noop(assigned) for _ in range(2))
    with spans.span("layer.aggregate"):
        t_full = _noop(evaluate_windows(fanned))
        stage0 = last_stage_id(spark)
        t_full = min(t_full, _noop(evaluate_windows(fanned)))
    shuffle, skew = shuffle_write(spark, stage0)
    with spans.span("layer.counts"):
        n_parsed = parsed.count()
        n_fanned = fanned.count()
        n_assigned = assigned.count()
        n_aggs = aggregate_windows(assigned).count()
        n_emitted = evaluate_windows(fanned).count()
    return {
        "sources.parse_s": t_parse,
        "sources.input_rows": lines,
        "sources.drop_ratio": 1 - n_parsed / lines,
        "fanout.s": t_fan - t_parse,
        "fanout.rows_out": n_fanned,
        "fanout.ratio": n_fanned / n_parsed,
        "windows.assign_s": t_assign - t_fan,
        "windows.assigned_rows": n_assigned,
        "windows.explode_ratio": n_assigned / n_fanned,
        "windows.aggregate_s": t_full - t_assign,
        "windows.aggregates": n_aggs,
        "windows.emitted": n_emitted,
        "windows.pass_ratio": n_emitted / n_aggs,
        "windows.shuffle_write_bytes": shuffle,
        "windows.partition_skew": skew,
        "proc.speedup_vs_1core": _speedup(run, os.path.join(indir, "part-00000.jsonl")),
    }


def _speedup(run, part0: str) -> float:
    """Pass time over one part file on one core / on all cores; the second
    of two passes on each side, so both are warm."""

    def timed(spark) -> float:
        walls = []
        for _ in range(2):
            t = time.perf_counter()
            _noop(evaluate_rules(spark, parse_metric_lines(spark.read.text(part0)), MANY_RULES))
            walls.append(time.perf_counter() - t)
        return walls[-1]

    with run.spans.span("speedup.all_cores"):
        many = timed(run.spark)
    with run.spans.span("speedup.one_core"):
        one = timed(run.restart_spark("local[1]"))
    return one / many


# per-layer metrics of layers this workload does not run: no rule store,
# no micro-batches, no state store, no open-loop writer
_STREAM_ONLY = [
    "rules.store_read_ms", "rules.upsert_ms",
    "stream.batches", "stream.trigger_ms_p50", "stream.trigger_ms_p90",
    "stream.add_batch_ms_p50", "stream.planning_ms_p50", "stream.wal_commit_ms_p50",
    "stream.get_batch_ms_p50", "stream.idle_ms_total", "stream.state_ops",
    "stream.state_rows_peak", "stream.state_bytes_peak", "stream.state_commit_ms_p50",
    "stream.rows_dropped_by_watermark", "generator.late_ms_max",
    "generator.backlog_slope_events_per_s",
]
