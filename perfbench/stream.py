"""live_rules: open loop through the live engine while its rules change.

One writer process (``gen.py``) drops a pre-rendered JSON-lines file into
the watched directory every ``interval_s`` wall seconds, whatever the
engine does. The engine reads them through
``streaming.pipeline.metric_source(kind="file")`` ->
``streaming.live.build_live_cep`` with its rules in a ``RuleFileStore``,
and a foreachBatch sink collects every emitted row with its batch id.
Every ``CHURN_EVERY_S`` the caller adds a churned rule (one-minute
tumbling window, always passes), changes the limit of the previous one and
deletes the one added ``CHURN_KEEP`` steps before. The 8 stable rules
are checked against the oracle.

Latencies are read from ``StreamingQueryProgress``: a micro-batch commits
at its trigger start plus its trigger duration, and input files map to
micro-batches by cumulative ``numInputRows``. Each latency is scaled to
the reference host speed over its own interval (``tracing.HostSpeed``).
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
import pandas as pd

import check
import gen
from tracing import (
    CpuWindow,
    ProcSampler,
    batches,
    last_stage_id,
    pct,
    progress_end,
    shuffle_write,
    stream_layer_metrics,
    watermark_s,
)

from flink_cep_task_spark.rules import Rule, compact_rule_list, compact_rules, parse_rule_lines
from flink_cep_task_spark.sources.jsonline import parse_metric_lines
from flink_cep_task_spark.streaming.live import (
    RuleFileStore,
    build_live_cep,
    rules_from_store,
)
from flink_cep_task_spark.streaming.pipeline import await_stream, metric_source

WORKLOAD = "live_rules"
WATERMARK_S = 60  # above the generator's out-of-order reach (ooo_max_s)
CHURN_BASE = 900  # churned rule ids; stable ones are 1..8
CHURN_EVERY_S = 1.5
WARM_S = 2.0  # leading seconds of the schedule, not measured: state fills up
CHURN_KEEP = 6  # a churned rule is deleted this many steps after its add
DRAIN_TIMEOUT_S = 40.0
NO_DATA_BATCHES = "spark.sql.streaming.noDataMicroBatches.enabled"
# the live operator keys its state by (rule, bucket) and pays a fixed cost
# per key and batch; the engine sizes buckets in proportion to cores, and
# its default of 64 makes even an empty batch take seconds here
STATE_BUCKETS = 16
OVER_CAPACITY = 60.0  # events/s of backlog growth, a tenth of the offered load


def _rule(rid, wtype, minutes, slide, keys, agg, op, lim) -> Rule:
    return Rule(rule_id=rid, window_type=wtype, window_minutes=minutes,
                window_slide_minutes=slide, grouping_keys=keys, agg_type=agg,
                agg_field="value", limit_op=op, limit=lim)


# windows of a few event-minutes: at 60 event seconds per file they close
# every one to five files
STABLE_RULES = [
    _rule(1, "tumbling", 2, None, ("t_event_type",), "SUM", ">", "2500"),
    _rule(2, "tumbling", 1, None, ("t_user",), "MAX", ">=", "150"),
    _rule(3, "tumbling", 5, None, (), "AVG", ">", "0"),
    _rule(4, "sliding", 4, 1, ("t_event_type",), "AVG", ">", "99"),
    _rule(5, "sliding", 3, 1, ("t_user",), "SUM", ">", "150"),
    _rule(6, "tumbling", 2, None, ("t_event_type", "t_user"), "SUM", ">", "100"),
    _rule(7, "sliding", 1, 3, ("t_event_type",), "SUM", ">", "0"),  # gap windows
    _rule(8, "tumbling", 3, None, ("t_event_type",), "MIN", "<", "5"),
]


def churn_doc(rule_id: int, limit: int = 0) -> dict:
    """A one-minute tumbling MAX >= limit per event type; measures are
    never negative, so with limit <= 0 every window passes."""
    return {
        "ruleId": rule_id, "windowType": "tumbling", "windowMinutes": 1,
        "groupingKeyNames": ["t_event_type"], "aggregatorFunctionType": "MAX",
        "aggregateFieldName": "value", "limitOperatorType": ">=", "limit": limit,
    }


def read_store(path: str) -> list[Rule]:
    """The store's changelog compiled to rules (last writer wins later)."""
    with open(path) as fh:
        return parse_rule_lines([json.dumps(d) for d in json.load(fh)])


class Sink:
    """foreachBatch sink: collects each micro-batch's rows with its id."""

    def __init__(self, spans, trace_rest=None):
        self.spans = spans
        self.trace_rest = trace_rest
        self.frames: list[pd.DataFrame] = []
        self.write_s: list[float] = []
        self.trace_s = 0.0

    def __call__(self, df, batch_id: int) -> None:
        t = time.perf_counter()
        pdf = df.toPandas()
        pdf["batch_id"] = batch_id
        self.frames.append(pdf)
        self.write_s.append(time.perf_counter() - t)
        if self.trace_rest is not None:
            # the REST read of a traced run delays this batch's commit, as
            # tracing would; its cost is counted in trace.overhead_ratio
            t = time.perf_counter()
            with self.spans.span("trace.rest", batch=batch_id):
                self.trace_rest()
            self.trace_s += time.perf_counter() - t

    def rows(self) -> pd.DataFrame:
        if not self.frames:
            return pd.DataFrame(columns=check.COLUMNS + ["batch_id"])
        return pd.concat(self.frames, ignore_index=True)


def _query(spark, watch: str, store_path: str, sink, checkpoint: str, available_now: bool):
    metrics = metric_source(spark, "file", path=watch, max_files_per_trigger=1000)
    out = build_live_cep(metrics, spark, store_path, watermark=f"{WATERMARK_S} seconds",
                         state_buckets=STATE_BUCKETS)
    w = out.writeStream.foreachBatch(sink).option("checkpointLocation", checkpoint)
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def run_stream(run) -> dict:
    sampler = ProcSampler().start()
    try:
        return _run(run, sampler)
    finally:
        sampler.stop()


def _run(run, sampler: ProcSampler) -> dict:
    spans, m = run.spans, {}
    p = gen.PROFILES[WORKLOAD]
    nwarm = round(WARM_S / p.interval_s)
    nfiles = nwarm + max(4, round(run.seconds / p.interval_s))
    staging, watch = run.dir("staging"), run.dir("watch")
    manifest = os.path.join(run.scratch, "manifest.json")
    # the writer renders every file now, while the engine warms up
    writer = run.spawn([
        sys.executable, os.path.join(os.path.dirname(__file__), "gen.py"),
        "--workload", WORKLOAD, "--seed", str(run.seed), "--files", str(nfiles),
        "--staging", staging, "--watch", watch, "--manifest", manifest,
    ])
    with spans.span("setup.session"):
        spark = run.start_spark()
    with spans.span("setup.generate"):
        ev = gen.generate(WORKLOAD, run.seed, nfiles)
        warm = run.dir("warm")
        with open(os.path.join(warm, "part-00000.jsonl"), "w") as fh:
            fh.write(gen.file_texts(ev)[0])
    store = RuleFileStore(os.path.join(run.dir("rules"), "rules.json"))
    for r in STABLE_RULES:
        store.upsert(gen.rule_doc(r))
    # one warm-up drain over the first file pays class loading, code
    # generation and the Python workers' start; its no-data batch, which
    # would only fire the warm windows, is switched off
    spark.conf.set(NO_DATA_BATCHES, "false")
    try:
        with spans.span("setup.warmup"):
            q = _query(spark, warm, store.path, Sink(spans), run.dir("ckpt-warm"), True)
            await_stream(q, DRAIN_TIMEOUT_S)
    finally:
        spark.conf.set(NO_DATA_BATCHES, "true")

    stage0 = last_stage_id(spark) if run.trace else 0
    sink = Sink(spans, (lambda: shuffle_write(spark, stage0)) if run.trace else None)
    query = _query(spark, watch, store.path, sink, run.dir("ckpt"), False)
    if writer.stdout.readline().strip() != "ready":
        raise RuntimeError("input writer failed before its schedule")
    t0 = time.time() + 0.2
    writer.stdin.write(f"{t0!r}\n")
    writer.stdin.flush()
    # the first timed event is the first file after the in-stream warm-up
    t_meas = t0 + nwarm * p.interval_s
    time.sleep(max(0.0, t_meas - time.time()))
    cpu = CpuWindow()

    # rule churn until four files before the end, so every added rule still
    # sees data after it is live
    churn_end = t0 + (nfiles - 4) * p.interval_s
    added: dict[int, float] = {}
    upsert_s: list[float] = []
    k = 0
    while True:
        due = t_meas + 0.5 + k * CHURN_EVERY_S
        if due > churn_end:
            break
        time.sleep(max(0.0, due - time.time()))
        rid = CHURN_BASE + k
        with spans.span("rules.churn", rule=rid):
            t = time.perf_counter()
            added[rid] = time.time()
            store.upsert(churn_doc(rid))
            upsert_s.append(time.perf_counter() - t)
            if k >= 1:
                store.upsert(churn_doc(rid - 1, limit=-1))
            if k >= CHURN_KEEP:
                store.delete(rid - CHURN_KEEP)
        k += 1
    if writer.wait(timeout=run.seconds + 30) != 0:
        raise RuntimeError("input writer failed")
    with open(manifest) as fh:
        files = json.load(fh)

    # drained once the pusher's watermark has been used by a batch: every
    # window has then closed
    pusher_s = gen.pusher(ev)[1]
    with spans.span("drain"):
        limit = time.time() + DRAIN_TIMEOUT_S
        while True:
            if query.exception() is not None:
                raise RuntimeError(f"stream failed: {query.exception()}")
            prog = [json.loads(x.json) for x in query.recentProgress]
            if any(watermark_s(x) >= pusher_s - WATERMARK_S for x in prog):
                break
            if time.time() > limit:
                raise TimeoutError("stream did not drain")
            time.sleep(0.1)
    m.update(cpu.finish(run.cores))
    query.stop()
    bs = batches([json.loads(x.json) for x in query.recentProgress])

    speed = run.speed.load()
    emitted = sink.rows()
    wall, lat_trace = latencies(ev, files, bs, emitted, p.events_per_file, nwarm)
    m.update(latencies(ev, files, bs, emitted, p.events_per_file, nwarm, speed.scale)[0])
    if lat_trace["generator.backlog_slope_events_per_s"] > OVER_CAPACITY:
        print("over capacity: the backlog grew by "
              f"{lat_trace['generator.backlog_slope_events_per_s']:.0f} events/s; "
              "latencies measure a queue, not the engine at the offered load",
              file=sys.stderr)
    first_emit = emitted.groupby("rule_id")["batch_id"].min()
    commit = {b["batchId"]: progress_end(b) for b in bs}
    upd = [(t, commit[first_emit[r]]) for r, t in added.items() if r in first_emit.index]
    never = len(added) - len(upd)
    if not upd:
        raise RuntimeError(f"none of {len(added)} churned rules emitted")
    wall["rule_update_latency_p50_ms"] = pct([b - a for a, b in upd], 50) * 1000
    m["rule_update_latency_p50_ms"] = pct([(b - a) * speed.scale(a, b) for a, b in upd], 50) * 1000
    wall["setup_s"] = t_meas - run.t_start_epoch
    m["setup_s"] = wall["setup_s"] * speed.scale(run.t_start_epoch, t_meas)
    m["peak_rss_mb"] = wall["peak_rss_mb"] = sampler.peak / 2**20

    with spans.span("check.oracle"):
        ids = [r.rule_id for r in STABLE_RULES]
        engine = emitted[emitted["rule_id"].isin(ids)]
        oracle = check.oracle_rows(check.events_frame(ev), STABLE_RULES)
    mismatch = check.mismatch_ratio(engine, oracle, never)

    if run.trace:
        for b in bs:
            spans.add("stream.batch", progress_end(b) - b["durationMs"]["triggerExecution"] / 1000,
                      progress_end(b), batch=b["batchId"], rows=b["numInputRows"])
        m.update(stream_layer_metrics(bs))
        m.update(lat_trace)
        m["sink.write_ms_p50"] = pct(sink.write_s, 50) * 1000
        m["rules.upsert_ms"] = pct(upsert_s, 50) * 1000
        m.update(_rule_layers(spark, store.path))
        m.update(_source_layer(spark, watch, len(ev) + 1))
        shuffle, skew = shuffle_write(spark, stage0)
        m["windows.shuffle_write_bytes"] = shuffle
        m["windows.partition_skew"] = skew
        m["windows.emitted"] = len(emitted)
        # tracing work inside the timed window is the sink's REST reads;
        # they delay the commits they ride on
        trig = sum(b["durationMs"].get("triggerExecution", 0) for b in bs) / 1000
        m["trace.overhead_ratio"] = sink.trace_s / max(trig - sink.trace_s, 1e-9)
        m.update(dict.fromkeys(_BATCH_ONLY, 0.0))
    return {"metrics": m, "wall": wall, "mismatch": mismatch,
            "attempted": len(files) + len(added), "failed": never}


def _unscaled(a: float, b: float) -> float:
    return 1.0


def latencies(ev, files: list[dict], bs: list[dict], rows: pd.DataFrame,
              per_file: int, first: int, scale=_unscaled) -> tuple[dict, dict]:
    """(end-to-end, per-layer) figures of one timed stream.

    ``files`` holds each file's due time and lateness, the pusher last;
    ``bs`` one progress record per executed micro-batch; ``rows`` every
    emitted row with the id of the batch that emitted it. Files before
    ``first`` warm the query up and are not measured. A latency over the
    epoch interval [a, b] is multiplied by ``scale(a, b)``."""
    nfiles = len(files)
    lines = np.full(nfiles, per_file, dtype=np.int64)
    lines[-1] = 1  # the pusher
    due = np.array([f["due"] for f in files])
    cum_lines = np.cumsum(lines)
    cum_rows = np.cumsum([b["numInputRows"] for b in bs])
    ends = np.array([progress_end(b) for b in bs])
    # file k is committed by the first batch whose cumulative input covers it
    consumed = np.searchsorted(cum_rows, cum_lines)
    if consumed.max() >= len(bs):
        raise RuntimeError("a file was never consumed")
    file_commit = ends[consumed]
    batch_ms = _scaled(due[first:-1], file_commit[first:-1], scale) * 1000

    # the watermark after file k: its running max event second minus the
    # delay. A result's trigger file is the first that moves it past the
    # window end.
    ok = ~ev.bad
    max_s = np.full(nfiles, -np.inf)
    np.maximum.at(max_s, ev.file[ok], (ev.ts_ms[ok] // 1000).astype(np.float64))
    max_s[-1] = gen.pusher(ev)[1]
    wm = np.maximum.accumulate(max_s) - WATERMARK_S
    stable = rows[rows["rule_id"] < CHURN_BASE]
    trigger = np.searchsorted(wm, stable["window_end"].to_numpy(dtype=np.float64))
    commit = dict(zip([b["batchId"] for b in bs], ends))
    emit = np.array([commit[b] for b in stable["batch_id"]])
    timed = trigger >= first
    alert_ms = _scaled(due[trigger[timed]], emit[timed], scale) * 1000

    # evaluation rate of the batches that consumed the timed files: input
    # rows over the wall time those batches ran (an open loop below
    # capacity commits exactly the offered rate, which says nothing about
    # capacity). Not scaled to the reference host speed: in an open loop
    # the rows a batch holds grow with its duration, so the rate follows
    # the offered load more than the host.
    run_b = slice(consumed[first], consumed[-2] + 1)
    trig_s = np.array([b["durationMs"]["triggerExecution"] for b in bs]) / 1000
    metrics = {
        "events_per_s": float(np.diff(np.r_[0, cum_rows])[run_b].sum() / trig_s[run_b].sum()),
        "batch_latency_p50_ms": pct(batch_ms, 50),
        "batch_latency_p90_ms": pct(batch_ms, 90),
        "alert_latency_p50_ms": pct(alert_ms, 50),
        "alert_latency_p90_ms": pct(alert_ms, 90),
    }
    # backlog over the second half of the schedule: lines due minus lines
    # committed at each batch commit; a positive slope means over capacity
    half = (due[first] + due[-1]) / 2
    sel = (ends >= half) & (ends <= due[-1])
    slope = 0.0
    if sel.sum() >= 2:
        due_lines = np.array([lines[due <= t].sum() for t in ends[sel]])
        slope = float(np.polyfit(ends[sel], due_lines - cum_rows[sel], 1)[0])
    trace = {
        "generator.late_ms_max": max(f["late_ms"] for f in files),
        "generator.backlog_slope_events_per_s": slope,
    }
    return metrics, trace


def _scaled(start: np.ndarray, end: np.ndarray, scale) -> np.ndarray:
    """Seconds from each start to its end, each scaled over its interval."""
    return np.array([(b - a) * scale(a, b) for a, b in zip(start.tolist(), end.tolist())])


def _rule_layers(spark, store_path: str) -> dict:
    """Rule-store read through the engine (as each micro-batch does it)
    and compilation of the changelog on the caller's side."""
    reads, compiles = [], []
    for _ in range(3):
        t = time.perf_counter()
        compact_rules(rules_from_store(spark, store_path)).collect()
        reads.append(time.perf_counter() - t)
        t = time.perf_counter()
        active = compact_rule_list(read_store(store_path))
        compiles.append(time.perf_counter() - t)
    return {
        "rules.store_read_ms": pct(reads, 50) * 1000,
        "rules.compile_ms": pct(compiles, 50) * 1000,
        "rules.active": len(active),
    }


def _source_layer(spark, watch: str, lines: int) -> dict:
    """Parse of the stream's files as one batch: time, rows and drop share."""
    t = time.perf_counter()
    parsed = parse_metric_lines(spark.read.text(watch)).count()
    return {
        "sources.parse_s": time.perf_counter() - t,
        "sources.input_rows": lines,
        "sources.drop_ratio": 1 - parsed / lines,
    }


# per-layer metrics of the batch plan and of batch scaling, which this
# workload does not run
_BATCH_ONLY = [
    "fanout.s", "fanout.rows_out", "fanout.ratio", "windows.assign_s",
    "windows.assigned_rows", "windows.explode_ratio", "windows.aggregate_s",
    "windows.aggregates", "windows.pass_ratio", "cep.plan_build_ms",
    "proc.speedup_vs_1core",
]
