"""LIVE rule stream tests — the reference's defining feature: rule CRUD
takes effect mid-run in the SAME streaming query (CEPTaskRunner.java:37-45,
PartitionEngine.java:54-63), modeled as a per-micro-batch-refreshed rule
table + dynamic-window stateful operator (streaming/live.py)."""

from __future__ import annotations

import json
import os
import time
import uuid

import pytest
from pyspark.sql import functions as F

from flink_cep_task_spark.plans.cep import evaluate_rules
from flink_cep_task_spark.rules import Rule, compact_rules
from flink_cep_task_spark.sources.jsonline import parse_metric_lines
from flink_cep_task_spark.streaming.live import (
    RuleFileStore,
    build_live_cep,
    rules_from_store,
)
from flink_cep_task_spark.streaming.pipeline import (
    await_stream,
    metrics_stream_from_text,
)
from tests.test_streaming import FLUSH_TAG, _events, _write_chunks

R1_WIRE = {
    "ruleId": 1, "ruleState": "ACTIVE", "windowType": "tumbling",
    "windowMinutes": 5, "groupingKeyNames": ["t_g"],
    "aggregatorFunctionType": "SUM", "aggregateFieldName": "m",
    "limitOperatorType": ">", "limit": 50,
}
R2_WIRE = {
    "ruleId": 2, "ruleState": "ACTIVE", "windowType": "sliding",
    "windowMinutes": 10, "windowSlideMinute": 5, "groupingKeyNames": ["t_g"],
    "aggregatorFunctionType": "AVG", "aggregateFieldName": "m",
    "limitOperatorType": ">", "limit": 20,
}
R1_RULE = Rule(rule_id=1, window_type="tumbling", window_minutes=5,
               grouping_keys=("t_g",), agg_type="SUM", agg_field="m",
               limit_op=">", limit="50")
R2_RULE = Rule(rule_id=2, window_type="sliding", window_minutes=10,
               window_slide_minutes=5, grouping_keys=("t_g",), agg_type="AVG",
               agg_field="m", limit_op=">", limit="20")


def test_rule_file_store_compaction(spark, tmp_path):
    """Store upserts/deletes → the store holds the current version of each
    remaining rule, and the typed store read + compaction resolves the
    latest ACTIVE rule set (BroadcastState upsert/remove twin)."""
    store = RuleFileStore(str(tmp_path / "rules.json"))
    store.upsert(R1_WIRE)
    store.upsert(R2_WIRE)
    store.upsert({**R1_WIRE, "limit": 999})      # upsert: last writer wins
    store.upsert({**R2_WIRE, "ruleState": "PAUSE"})
    store.delete(2)                               # tombstone wins over PAUSE
    table = rules_from_store(spark, store.path)
    assert [(r.rule_id, float(r.limit)) for r in table.collect()] == [(1, 999.0)]
    compacted = compact_rules(table).collect()
    assert len(compacted) == 1
    assert compacted[0].rule_id == 1
    assert float(compacted[0].limit) == 999.0


def test_live_cep_matches_batch(spark, tmp_path):
    """With a static rule set, the live engine's append output equals the
    batch engine's result on the same data — dynamic-window state op,
    watermark flush, threshold gate all included."""
    events = _events()
    src = _write_chunks(tmp_path, events)
    store = RuleFileStore(str(tmp_path / "rules.json"))
    store.upsert(R1_WIRE)
    store.upsert(R2_WIRE)

    metrics = metrics_stream_from_text(spark, src, max_files_per_trigger=1)
    out = build_live_cep(metrics, spark, store.path, watermark="1 minute")
    name = f"live_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_live"))
        .trigger(availableNow=True).start()
    )
    await_stream(q, 180)
    got = (
        spark.table(name)
        .filter(~F.col("group_id").contains(FLUSH_TAG))
        .collect()
    )

    batch_metrics = parse_metric_lines(
        spark.createDataFrame([(json.dumps(e),) for e in events], ["value"])
    )
    expected = evaluate_rules(spark, batch_metrics, [R1_RULE, R2_RULE]).collect()

    key = lambda r: (r.rule_id, r.group_id, r.window_start, r.window_end,
                     r.agg_type, r.agg_value)
    assert sorted(map(key, got)) == sorted(map(key, expected))
    assert len(got) > 0


def _await_rows(spark, name: str, predicate, timeout_s: float = 60.0):
    """Poll a memory sink until `predicate(rows)` holds."""
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        rows = spark.table(name).collect()
        if predicate(rows):
            return rows
        time.sleep(0.5)
    raise TimeoutError(f"memory table {name} never satisfied predicate")


def test_checkpoint_restart_resume(spark, tmp_path):
    """R1/R2: stop after half the input, restart a NEW query from the SAME
    checkpointLocation, feed the rest — the union of both runs' outputs
    equals the batch result, with no duplicated and no lost windows. The
    stateful operator's open-window partials and the rule table both
    survive the restart (reference restart strategy CEPTaskRunner.java:28,
    BroadcastState restore PartitionEngine.java:21)."""
    base_ms = 1_700_000_040_000  # 2-min epoch aligned
    mk = lambda i: {"eventTime": base_ms + i * 60_000, "t_g": "g0", "m": 1}
    src = tmp_path / f"rs-{uuid.uuid4().hex[:8]}"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt_restart")
    t0 = time.time() - 120

    def write_file(idx: int, doc: dict) -> None:
        p = src / f"{idx:04d}.json"
        p.write_text(json.dumps(doc))
        os.utime(p, (t0 + idx, t0 + idx))

    store = RuleFileStore(str(tmp_path / "rules_restart.json"))
    store.upsert({"ruleId": 1, "windowType": "tumbling", "windowMinutes": 2,
                  "groupingKeyNames": ["t_g"], "aggregatorFunctionType": "SUM",
                  "aggregateFieldName": "m", "limitOperatorType": ">", "limit": 0})

    # the memory sink cannot recover from a checkpoint; the parquet file
    # sink is the fault-tolerant (exactly-once) one — same sink dir and
    # checkpoint across both runs.
    out_dir = str(tmp_path / "restart_out")

    def run_once() -> None:
        metrics = metrics_stream_from_text(spark, str(src), max_files_per_trigger=1)
        out = build_live_cep(metrics, spark, store.path, watermark="0 seconds")
        q = (
            out.writeStream.format("parquet").outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        await_stream(q, 120)

    for i in range(4):                      # first half: minutes 0..3
        write_file(i, mk(i))
    run_once()
    n_run1 = spark.read.parquet(out_dir).count()

    for i in range(4, 8):                   # second half: minutes 4..7
        write_file(i, mk(i))
    write_file(8, {"eventTime": base_ms + 12_000_000, "t_g": FLUSH_TAG, "m": 0})
    write_file(9, {"eventTime": base_ms + 12_060_000, "t_g": FLUSH_TAG, "m": 0})
    run_once()                              # NEW query, SAME checkpoint

    rows = spark.read.parquet(out_dir).collect()
    base_s = base_ms // 1000
    key = lambda r: (r.window_start - base_s, r.window_end - base_s, r.agg_value)
    got = sorted(key(r) for r in rows
                 if r.rule_id == 1 and FLUSH_TAG not in r.group_id)
    # every 2-minute window exactly once, SUM=2 each — [2,4) spans the
    # restart: its partials were built in run 1 and fired in run 2.
    assert got == [(0, 120, 2.0), (120, 240, 2.0), (240, 360, 2.0), (360, 480, 2.0)]
    assert n_run1 >= 1  # run 1 emitted at least its closed window(s)


OPEN_WINDOW_RULE = {
    "ruleId": 2, "windowType": "tumbling", "windowMinutes": 1,
    "groupingKeyNames": ["t_event_type"], "aggregatorFunctionType": "SUM",
    "aggregateFieldName": "value", "limitOperatorType": ">", "limit": 0,
}
OPEN_WINDOW_CHANGES = {
    "delete": lambda store: store.delete(2),
    "pause": lambda store: store.upsert({**OPEN_WINDOW_RULE, "ruleState": "PAUSE"}),
    "relimit": lambda store: store.upsert({**OPEN_WINDOW_RULE, "limit": 100}),
    "reagg": lambda store: store.upsert(
        {**OPEN_WINDOW_RULE, "aggregatorFunctionType": "MAX"}),
    "resize": lambda store: store.upsert({**OPEN_WINDOW_RULE, "windowMinutes": 2}),
}


@pytest.mark.parametrize("change", sorted(OPEN_WINDOW_CHANGES))
def test_rule_change_gates_window_closed_by_watermark_only(spark, tmp_path, change):
    """Rules 1 and 2 each open window [0, 60) for group x; rule 2 then
    changes while the window is open, and a second run resuming the same
    checkpoint moves ONLY the watermark past 60 — x's state key sees no
    data, only its timeout. The emitted rows must be the oracle's over
    the same events and the rule set in the store at that closing batch:
    nothing for a deleted or paused rule, the new limit's verdict, the
    new aggregate. A resized rule no longer defines the old window, so
    no row may carry its old bounds."""
    import duckdb

    from flink_cep_task_spark.oracle import cep_oracle_sql

    base_ms = 1_700_000_040_000  # 2-min epoch aligned
    base_s = base_ms // 1000
    events = [(10, 3), (20, 4)]  # (second offset, value) in group x
    src = tmp_path / f"ow-{uuid.uuid4().hex[:8]}"
    src.mkdir()
    t0 = time.time() - 120

    def write_file(idx: int, doc: dict) -> None:
        p = src / f"{idx:04d}.json"
        p.write_text(json.dumps(doc))
        os.utime(p, (t0 + idx, t0 + idx))

    store = RuleFileStore(str(tmp_path / "rules_ow.json"))
    store.upsert({**OPEN_WINDOW_RULE, "ruleId": 1})
    store.upsert(OPEN_WINDOW_RULE)
    out_dir = str(tmp_path / "ow_out")
    ckpt = str(tmp_path / "ckpt_ow")

    def run_once() -> None:
        metrics = metrics_stream_from_text(spark, str(src), max_files_per_trigger=1)
        out = build_live_cep(metrics, spark, store.path, watermark="0 seconds")
        q = (
            out.writeStream.format("parquet").outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        await_stream(q, 120)

    for i, (off, v) in enumerate(events):  # run 1: both windows stay open
        write_file(i, {"eventTime": base_ms + off * 1000, "t_event_type": "x",
                       "value": v})
    run_once()

    OPEN_WINDOW_CHANGES[change](store)
    # run 2: two watermark pushers — wm advances at batch N's end, the
    # timeouts fire in batch N+1
    write_file(2, {"eventTime": base_ms + 12_000_000, "t_event_type": FLUSH_TAG, "value": 0})
    write_file(3, {"eventTime": base_ms + 12_060_000, "t_event_type": FLUSH_TAG, "value": 0})
    run_once()

    got = sorted(
        (r.rule_id, r.group_id, r.window_start - base_s, r.window_end - base_s,
         r.agg_type, r.agg_value)
        for r in spark.read.parquet(out_dir).collect()
        if FLUSH_TAG not in r.group_id
    )
    assert (1, "1_x", 0, 60, "SUM", 7.0) in got, got
    if change == "resize":
        assert not [r for r in got if r[0] == 2 and r[2:4] == (0, 60)], got
        return
    with open(store.path) as fh:
        live_rules = [Rule.from_wire(d) for d in json.load(fh)]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM (VALUES "
        + ", ".join(f"(epoch_ms({base_ms + off * 1000}), 'x', {i}, {v})"
                    for i, (off, v) in enumerate(events))
        + ") AS t(ts, event_type, user_id, value)"
    )
    expected = sorted(
        (r[0], r[1], r[2] - base_s, r[3] - base_s, r[4], r[5])
        for r in con.execute(cep_oracle_sql(live_rules)).fetchall()
    )
    con.close()
    assert got == expected


def test_tumbling_rule_ignores_its_slide(spark, tmp_path):
    """A tumbling rule may carry a windowSlideMinute; the window assignment,
    the batch engine and the oracle all ignore it. The live gate must too:
    a tumbling window is aligned to its size, not to the stray slide, so a
    5-min window starting at 300 s (not a multiple of a 2-min slide) and
    every 1-min window (most not multiples of a 5-min slide) still emit."""
    import duckdb

    from flink_cep_task_spark.oracle import cep_oracle_sql

    base_ms = 1_700_000_040_000  # 2-min epoch aligned, 5-min not
    base_s = base_ms // 1000
    events = [(i * 30, 1 + i % 4) for i in range(40)]  # 20 minutes of group x
    src = tmp_path / f"ts-{uuid.uuid4().hex[:8]}"
    src.mkdir()
    t0 = time.time() - 120
    docs = [[{"eventTime": base_ms + off * 1000, "t_event_type": "x", "value": v}
             for off, v in events[k:k + 10]] for k in range(0, len(events), 10)]
    docs += [[{"eventTime": base_ms + 12_000_000 + j * 60_000,
               "t_event_type": FLUSH_TAG, "value": 0}] for j in range(2)]
    for idx, lines in enumerate(docs):
        p = src / f"{idx:04d}.json"
        p.write_text("\n".join(json.dumps(d) for d in lines))
        os.utime(p, (t0 + idx, t0 + idx))

    store = RuleFileStore(str(tmp_path / "rules_ts.json"))
    store.upsert({**OPEN_WINDOW_RULE, "ruleId": 1, "windowMinutes": 5,
                  "windowSlideMinute": 2})
    store.upsert({**OPEN_WINDOW_RULE, "windowMinutes": 1, "windowSlideMinute": 5})
    metrics = metrics_stream_from_text(spark, str(src), max_files_per_trigger=1)
    out = build_live_cep(metrics, spark, store.path, watermark="0 seconds")
    name = f"ts_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ts"))
        .trigger(availableNow=True).start()
    )
    await_stream(q, 120)
    got = sorted(
        (r.rule_id, r.group_id, r.window_start - base_s, r.window_end - base_s,
         r.agg_type, r.agg_value)
        for r in spark.table(name).collect()
        if FLUSH_TAG not in r.group_id
    )

    with open(store.path) as fh:
        rules = [Rule.from_wire(d) for d in json.load(fh)]
    assert all(r.window_slide_minutes for r in rules)  # the slide is kept
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM (VALUES "
        + ", ".join(f"(epoch_ms({base_ms + off * 1000}), 'x', {i}, {v})"
                    for i, (off, v) in enumerate(events))
        + ") AS t(ts, event_type, user_id, value)"
    )
    expected = sorted(
        (r[0], r[1], r[2] - base_s, r[3] - base_s, r[4], r[5])
        for r in con.execute(cep_oracle_sql(rules)).fetchall()
    )
    con.close()
    # the 5-min windows start at base - 240 + 300k (the epoch is their
    # grid); [60, 360) starts 60 s off the 2-min grid
    assert [r for r in expected if r[0] == 1 and r[2:4] == (60, 360)]
    assert len(expected) == 5 + 20
    assert got == expected


def test_live_global_rules_update_mode(spark, tmp_path):
    """Global-window rules through the LIVE path: running aggregates in
    update mode, threshold gated in the plan against the rule store
    re-read every micro-batch — a mid-run limit change re-gates the SAME
    running aggregate (state is keyed without config columns), and a
    delete stops every emission."""
    from flink_cep_task_spark.streaming.live import run_live_cep_global

    base_ms = 1_700_000_040_000
    src = tmp_path / f"glob-{uuid.uuid4().hex[:8]}"
    src.mkdir()
    t0 = time.time() - 120

    def write_file(idx: int, doc: dict) -> None:
        p = src / f"{idx:04d}.json"
        p.write_text(json.dumps(doc))
        os.utime(p, (t0 + idx, t0 + idx))

    store = RuleFileStore(str(tmp_path / "rules_glob.json"))
    store.upsert({"ruleId": 3, "windowType": "global",
                  "groupingKeyNames": ["t_g"], "aggregatorFunctionType": "MAX",
                  "aggregateFieldName": "m", "limitOperatorType": ">", "limit": 0})

    seen: list[tuple] = []

    def sink(batch_df, _bid):
        seen.extend(
            (r.rule_id, r.group_id, r.agg_type, r.agg_value)
            for r in batch_df.collect()
        )

    for i in range(3):                      # phase A: max climbs 10,20,30
        write_file(i, {"eventTime": base_ms + i * 60_000, "t_g": "g0",
                       "m": (i + 1) * 10})
    metrics = metrics_stream_from_text(spark, str(src), max_files_per_trigger=1)
    q = run_live_cep_global(
        metrics, spark, store.path, sink,
        str(tmp_path / "ckpt_glob"),
        trigger={"processingTime": "500 milliseconds"},
    )
    try:
        deadline = time.time() + 60
        while not any(v == 30.0 for *_k, v in seen) and time.time() < deadline:
            time.sleep(0.5)
        assert any(v == 30.0 for *_k, v in seen), f"phase A updates missing: {seen}"

        # raise the limit mid-run: the SAME running max must now be gated
        store.upsert({"ruleId": 3, "windowType": "global",
                      "groupingKeyNames": ["t_g"], "aggregatorFunctionType": "MAX",
                      "aggregateFieldName": "m", "limitOperatorType": ">",
                      "limit": 1000, "seq": 99})
        n_before = len(seen)
        write_file(3, {"eventTime": base_ms + 180_000, "t_g": "g0", "m": 40})
        write_file(4, {"eventTime": base_ms + 240_000, "t_g": "g0", "m": 50})

        def drain(n_rows: int) -> None:
            # wait until the first n_rows events were aggregated (any
            # emission or quiet period after files consumed)
            deadline = time.time() + 60
            while time.time() < deadline:
                if sum(p["numInputRows"] for p in q.recentProgress) >= n_rows:
                    time.sleep(2)  # let the last gated batch drain
                    return
                time.sleep(0.5)
            raise AssertionError(f"{n_rows} input rows not consumed in 60 s")

        drain(5)
        n_raised = len(seen)
        # phase C: delete the rule; a value above every limit emits nothing
        store.delete(3)
        write_file(5, {"eventTime": base_ms + 300_000, "t_g": "g0", "m": 5000})
        drain(6)
    finally:
        q.stop()

    # phase A emitted running maxima (limit 0); phase B values (40, 50)
    # exceed the old limit but NOT the new one — no emissions after upsert
    assert [v for *_k, v in seen[:n_before]] and max(v for *_k, v in seen[:n_before]) == 30.0
    assert n_raised == n_before, f"rows emitted past the raised limit: {seen[n_before:]}"
    assert len(seen) == n_raised, f"rows emitted after the delete: {seen[n_raised:]}"


def test_rule_midstream_upsert_and_delete(spark, tmp_path):
    """THE live-rules scenario, one continuous query:

      phase A: rule 1 active, events flow        → rule-1 windows fire
      mid-run: upsert rule 7 + DELETE rule 1     → same run, no restart
      phase B: more events flow                  → rule-7 windows fire for
                                                   phase-B events ONLY;
                                                   rule 1 stops matching,
                                                   and its in-flight window
                                                   emits nothing when the
                                                   watermark closes it: it
                                                   is gated against the
                                                   current rules, like the
                                                   batch engine and the
                                                   oracle (the reference's
                                                   Q6 leaks it forever)
    """
    base_ms = 1_700_000_040_000  # multiple of 120000 ⇒ 2-min epoch aligned
    mk = lambda i: {"eventTime": base_ms + i * 60_000, "t_g": "g0", "m": 1}
    src = tmp_path / f"mid-{uuid.uuid4().hex[:8]}"
    src.mkdir()
    t0 = time.time() - 120

    def write_file(idx: int, doc: dict) -> None:
        p = src / f"{idx:04d}.json"
        p.write_text(json.dumps(doc))
        os.utime(p, (t0 + idx, t0 + idx))

    store = RuleFileStore(str(tmp_path / "rules.json"))
    r1 = {"ruleId": 1, "windowType": "tumbling", "windowMinutes": 2,
          "groupingKeyNames": ["t_g"], "aggregatorFunctionType": "SUM",
          "aggregateFieldName": "m", "limitOperatorType": ">", "limit": 0}
    store.upsert(r1)

    for i in range(4):                      # phase A: minutes 0..3
        write_file(i, mk(i))

    metrics = metrics_stream_from_text(spark, str(src), max_files_per_trigger=1)
    out = build_live_cep(metrics, spark, store.path, watermark="0 seconds")
    name = f"mid_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_mid"))
        .trigger(processingTime="500 milliseconds").start()
    )
    try:
        # rule-1 window [base, base+2min) closes when the minute-2 event
        # arrives; wait for it, then for the full phase A to be ingested.
        _await_rows(spark, name, lambda rows: any(r.rule_id == 1 for r in rows))

        def ingested(n: int) -> bool:
            return sum(p["numInputRows"] for p in q.recentProgress) >= n

        deadline = time.time() + 60
        while not ingested(4) and time.time() < deadline:
            time.sleep(0.5)
        assert ingested(4), "phase A not fully ingested"

        # ---- mid-stream rule CRUD: same run, no restart ----
        r7 = {"ruleId": 7, "windowType": "tumbling", "windowMinutes": 2,
              "groupingKeyNames": ["t_g"], "aggregatorFunctionType": "MIN",
              "aggregateFieldName": "m", "limitOperatorType": "<", "limit": 999}
        store.upsert(r7)
        store.delete(1)

        for i in range(4):                  # phase B: minutes 4..7
            write_file(4 + i, mk(4 + i))
        # two watermark pushers: wm advances at batch N's end, timeouts
        # fire in batch N+1
        write_file(8, {"eventTime": base_ms + 12_000_000, "t_g": FLUSH_TAG, "m": 0})
        write_file(9, {"eventTime": base_ms + 12_060_000, "t_g": FLUSH_TAG, "m": 0})

        rows = _await_rows(
            spark, name,
            lambda rows: sum(1 for r in rows if r.rule_id == 7
                             and FLUSH_TAG not in r.group_id) >= 2,
            timeout_s=90,
        )
    finally:
        q.stop()

    base_s = base_ms // 1000
    r1_rows = {(r.window_start - base_s, r.window_end - base_s, r.agg_value)
               for r in rows if r.rule_id == 1}
    r7_rows = {(r.window_start - base_s, r.window_end - base_s, r.agg_value)
               for r in rows if r.rule_id == 7 and FLUSH_TAG not in r.group_id}
    # rule 1 saw ONLY phase A (deleted before phase B): window [0,2)
    # minutes, SUM=2; [2,4) closes after the delete and emits nothing.
    assert {(s, e) for s, e, _ in r1_rows} == {(0, 120)}
    assert all(v == 2.0 for _s, _e, v in r1_rows)
    # rule 7 saw ONLY phase B: windows [4,6) and [6,8) minutes, MIN=1.
    assert {(s, e) for s, e, _ in r7_rows} == {(240, 360), (360, 480)}
    assert all(v == 1.0 for _s, _e, v in r7_rows)


class _PushServer:
    """nc -l stand-in that lets the test push lines AFTER the stream
    connects (the reference workflow types rules/metrics into two live nc
    sessions, README.md:25-30)."""

    def __init__(self):
        import socket as _socket

        self.sock = _socket.socket(_socket.AF_INET, _socket.SOCK_STREAM)
        self.sock.setsockopt(_socket.SOL_SOCKET, _socket.SO_REUSEADDR, 1)
        self.sock.bind(("127.0.0.1", 0))
        self.sock.listen(1)
        self.port = self.sock.getsockname()[1]
        self.conn = None
        import threading as _threading

        self._accepted = _threading.Event()
        _threading.Thread(target=self._serve, daemon=True).start()

    def _serve(self):
        self.conn, _ = self.sock.accept()
        self._accepted.set()

    def send(self, lines: list[str], timeout: float = 30.0) -> None:
        assert self._accepted.wait(timeout), "no client connected"
        self.conn.sendall("".join(l + "\n" for l in lines).encode())

    def close(self):
        for s in (self.conn, self.sock):
            try:
                if s is not None:
                    s.close()
            except OSError:
                pass


def test_dual_socket_rules_and_metrics(spark, tmp_path):
    """The reference's FULL dual-socket workflow (CEPTaskRunner.java:31,37)
    in one run: metrics arrive on one socket, rules on a second socket
    bridged into the live rule channel (rules_socket_to_store), and a
    mid-run upsert+DELETE takes effect without restart — the deleted
    rule's in-flight window emits nothing — the socket twin of
    test_rule_midstream_upsert_and_delete."""
    from flink_cep_task_spark.streaming.pipeline import (
        metric_source,
        rules_socket_to_store,
    )

    base_ms = 1_700_000_040_000  # 2-min epoch aligned
    mk = lambda i: json.dumps({"eventTime": base_ms + i * 60_000, "t_g": "g0", "m": 1})
    rule_server, metric_server = _PushServer(), _PushServer()
    store = RuleFileStore(str(tmp_path / "rules_sock.json"))
    bridge = cep = None
    try:
        bridge = rules_socket_to_store(
            spark, store, port=rule_server.port,
            trigger={"processingTime": "250 milliseconds"},
        )
        metrics = metric_source(spark, "socket", port=metric_server.port)
        out = build_live_cep(metrics, spark, store.path, watermark="0 seconds")
        name = f"dual_{uuid.uuid4().hex[:8]}"
        cep = (
            out.writeStream.format("memory").queryName(name).outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt_dual"))
            .trigger(processingTime="500 milliseconds").start()
        )

        def stored() -> dict[int, dict]:
            with open(store.path) as fh:
                return {d["ruleId"]: d for d in json.load(fh)}

        def await_store(pred, what: str, timeout_s: float = 30.0):
            deadline = time.time() + timeout_s
            while time.time() < deadline:
                if pred(stored()):
                    return
                time.sleep(0.2)
            raise TimeoutError(f"rule store never saw {what}: {stored()}")

        # phase A: rule 1 over the rule socket (plus a junk line that must
        # be dropped), then metrics minutes 0..3 over the metric socket
        rule_server.send([
            "not json at all {",
            json.dumps({"ruleId": 1, "windowType": "tumbling", "windowMinutes": 2,
                        "groupingKeyNames": ["t_g"], "aggregatorFunctionType": "SUM",
                        "aggregateFieldName": "m", "limitOperatorType": ">",
                        "limit": 0}),
        ])
        await_store(lambda rules: 1 in rules, "rule 1")
        metric_server.send([mk(i) for i in range(4)])
        _await_rows(spark, name, lambda rows: any(r.rule_id == 1 for r in rows),
                    timeout_s=90)

        # mid-run CRUD over the SAME socket: add rule 7, delete rule 1
        rule_server.send([
            json.dumps({"ruleId": 7, "windowType": "tumbling", "windowMinutes": 2,
                        "groupingKeyNames": ["t_g"], "aggregatorFunctionType": "MIN",
                        "aggregateFieldName": "m", "limitOperatorType": "<",
                        "limit": 999}),
            json.dumps({"ruleId": 1, "ruleState": "DELETE"}),
        ])
        await_store(lambda rules: 7 in rules and 1 not in rules, "rule 7 + delete 1")

        # phase B: minutes 4..7 + two watermark pushers
        metric_server.send([mk(4 + i) for i in range(4)] + [
            json.dumps({"eventTime": base_ms + 12_000_000, "t_g": FLUSH_TAG, "m": 0}),
            json.dumps({"eventTime": base_ms + 12_060_000, "t_g": FLUSH_TAG, "m": 0}),
        ])
        rows = _await_rows(
            spark, name,
            lambda rows: sum(1 for r in rows if r.rule_id == 7
                             and FLUSH_TAG not in r.group_id) >= 2,
            timeout_s=90,
        )
    finally:
        for q in (cep, bridge):
            if q is not None:
                q.stop()
        rule_server.close()
        metric_server.close()

    base_s = base_ms // 1000
    r1 = {(r.window_start - base_s, r.window_end - base_s, r.agg_value)
          for r in rows if r.rule_id == 1}
    r7 = {(r.window_start - base_s, r.window_end - base_s, r.agg_value)
          for r in rows if r.rule_id == 7 and FLUSH_TAG not in r.group_id}
    # rule 1: phase A only — deleted before phase B, so [2,4), which
    # closes after the delete, emits nothing
    assert {(s, e) for s, e, _ in r1} == {(0, 120)}
    assert all(v == 2.0 for _s, _e, v in r1)
    # rule 7: phase B only
    assert {(s, e) for s, e, _ in r7} == {(240, 360), (360, 480)}
    assert all(v == 1.0 for _s, _e, v in r7)


def test_fold_state_falls_to_the_pushers_open_windows(spark, tmp_path):
    """Closed windows leave the state store: after the watermark pushers
    flush the stream, the window fold's numRowsTotal equals the number of
    windows the pushers themselves still hold open, and nothing of the
    data's windows is left behind."""
    events = _events(n=60)
    src = _write_chunks(tmp_path, events)
    store = RuleFileStore(str(tmp_path / "rules_state.json"))
    store.upsert(R1_WIRE)
    store.upsert(R2_WIRE)
    metrics = metrics_stream_from_text(spark, src, max_files_per_trigger=1)
    out = build_live_cep(metrics, spark, store.path, watermark="1 minute")
    name = f"state_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_state"))
        .trigger(availableNow=True).start()
    )
    await_stream(q, 180)
    state_rows = [p.stateOperators[0].numRowsTotal for p in q.recentProgress]
    # the two pushers (see _write_chunks) and the final watermark
    max_s = max(e["eventTime"] for e in events) // 1000
    pushers = [max_s + 86_400, max_s + 86_500]
    final_wm = pushers[-1] - 60
    pusher_open = {
        (rule, start)
        for rule, wtype, size, slide in [(1, "tumbling", 300, 300), (2, "sliding", 600, 300)]
        for ts in pushers
        for start in _oracle_window_starts(ts, wtype, size, slide)
        if start + size > final_wm
    }
    assert state_rows[-1] == len(pusher_open), state_rows
    assert max(state_rows) > len(pusher_open), state_rows
    assert spark.table(name).count() > 0


def test_live_engine_handles_near_epoch_timestamps(spark, tmp_path):
    """Sliding windows covering events near epoch 0 start at NEGATIVE
    seconds (the reference's own unit tests use ts=1ms,
    TumblingWindowAssignerTest.java) — the fold's window assignment and
    its timestamp window-end key must keep them. Streaming output must
    equal the batch engine on the same tiny-timestamp data."""
    events = [
        {"eventTime": 30_000, "t_g": "g0", "m": 5},      # 30 s
        {"eventTime": 90_000, "t_g": "g0", "m": 7},      # 90 s
        {"eventTime": 150_000, "t_g": "g0", "m": 9},     # 150 s
    ]
    src = _write_chunks(tmp_path, events, n_chunks=1)
    store = RuleFileStore(str(tmp_path / "rules_epoch.json"))
    # sliding 10 min / 5 min: covering starts < 0; limit 0 so the
    # negative-start window actually emits
    store.upsert({**R2_WIRE, "limit": 0})
    metrics = metrics_stream_from_text(spark, src, max_files_per_trigger=3)
    out = build_live_cep(metrics, spark, store.path, watermark="1 minute")
    name = f"ep_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_epoch"))
        .trigger(availableNow=True).start()
    )
    await_stream(q, 120)
    got = sorted(
        (r.rule_id, r.group_id, r.window_start, r.window_end, r.agg_value)
        for r in spark.table(name).collect() if FLUSH_TAG not in r.group_id
    )
    batch_metrics = parse_metric_lines(
        spark.createDataFrame([(json.dumps(e),) for e in events], ["value"])
    )
    r2_limit0 = Rule(rule_id=2, window_type="sliding", window_minutes=10,
                     window_slide_minutes=5, grouping_keys=("t_g",),
                     agg_type="AVG", agg_field="m", limit_op=">", limit="0")
    expected = sorted(
        (r.rule_id, r.group_id, r.window_start, r.window_end, r.agg_value)
        for r in evaluate_rules(spark, batch_metrics, [r2_limit0]).collect()
    )
    assert got == expected
    assert any(ws < 0 for _r, _g, ws, _we, _v in got), (
        "expected at least one negative-start window"
    )


def test_watermark_drops_late_rows_keeps_out_of_order(spark, tmp_path):
    """T1-T3 semantics, pinned: an out-of-order row that arrives WITHIN the
    watermark still lands in its (already-open) window; so does a row of
    a window that closes in the batch the row arrives in (Spark filters
    late rows by the previous batch's watermark); a row arriving after
    its window fired is dropped and counted once — never a double-fire,
    never a resurrected window (the reference's wall-clock trigger
    either lost such results entirely — quirk Q4 — or re-fired)."""
    base_ms = 1_700_000_040_000  # 2-min epoch aligned
    src = tmp_path / f"late-{uuid.uuid4().hex[:8]}"
    src.mkdir()
    t0 = time.time() - 120

    def write_file(idx: int, docs: list[dict]) -> None:
        p = src / f"{idx:04d}.json"
        p.write_text("\n".join(json.dumps(d) for d in docs))
        os.utime(p, (t0 + idx, t0 + idx))

    store = RuleFileStore(str(tmp_path / "rules_late.json"))
    store.upsert({"ruleId": 1, "windowType": "tumbling", "windowMinutes": 2,
                  "groupingKeyNames": ["t_g"], "aggregatorFunctionType": "SUM",
                  "aggregateFieldName": "m", "limitOperatorType": ">", "limit": 0})

    # integer SECOND offsets (a fractional eventTime would be serialized as
    # a float and dropped by the ingest's integer try_cast)
    mk = lambda sec_off, m: {"eventTime": base_ms + sec_off * 1000, "t_g": "g0", "m": m}
    # batch 1: seconds 0 and 180 (watermark after batch: 180s - 60s delay =
    # 120s → window [0,2min) is closeable from batch 2 on)
    write_file(0, [mk(0, 1), mk(180, 1)])
    # batch 2: second 150 (in-order for [2,4)) AND second 60, for [0,2).
    # Spark filters late rows by the PREVIOUS batch's watermark (0 here)
    # and closes windows by the current one (120s), so the second-60 row
    # still counts and [0,2) fires with it, exactly once — as the batch
    # oracle counts it
    write_file(1, [mk(150, 1), mk(60, 100)])
    # batch 3: second 210 out-of-order-within-watermark for open window
    # [2,4), and second 90 — LATE: [0,2) has fired, so the row is dropped
    # (and counted), never merged into a resurrected window
    write_file(2, [mk(210, 1), mk(90, 1000)])
    # pushers
    write_file(3, [{"eventTime": base_ms + 12_000_000, "t_g": FLUSH_TAG, "m": 0}])
    write_file(4, [{"eventTime": base_ms + 12_060_000, "t_g": FLUSH_TAG, "m": 0}])

    metrics = metrics_stream_from_text(spark, str(src), max_files_per_trigger=1)
    out = build_live_cep(metrics, spark, store.path, watermark="1 minute")
    name = f"late_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_late"))
        .trigger(availableNow=True).start()
    )
    await_stream(q, 180)
    base_s = base_ms // 1000
    got = sorted(
        (r.window_start - base_s, r.window_end - base_s, r.agg_value)
        for r in spark.table(name).collect() if FLUSH_TAG not in r.group_id
    )
    # [0,2): seconds 0 and 60 (the late second-90 row dropped, no re-fire);
    # [2,4): seconds 150, 180, 210 — the out-of-order 210 row counted.
    assert got == [(0, 120, 101.0), (120, 240, 3.0)], got
    dropped = sum(
        op.numRowsDroppedByWatermark
        for p in q.recentProgress for op in p.stateOperators
    )
    assert dropped == 1, dropped


def test_new_tag_key_appearing_mid_stream(spark, tmp_path):
    """Schemaless contract end-to-end: a rule grouping on a tag that NO
    early event carries matches nothing at first (tag-containment,
    Rule.java:63-66); once events start carrying the new tag mid-run, they
    group by it — no schema migration, no restart (MapType tags make the
    dimension set open)."""
    base_ms = 1_700_000_040_000
    src = tmp_path / f"ntag-{uuid.uuid4().hex[:8]}"
    src.mkdir()
    t0 = time.time() - 120

    def write_file(idx: int, docs: list[dict]) -> None:
        p = src / f"{idx:04d}.json"
        p.write_text("\n".join(json.dumps(d) for d in docs))
        os.utime(p, (t0 + idx, t0 + idx))

    store = RuleFileStore(str(tmp_path / "rules_ntag.json"))
    store.upsert({"ruleId": 1, "windowType": "tumbling", "windowMinutes": 2,
                  "groupingKeyNames": ["t_region"], "aggregatorFunctionType": "SUM",
                  "aggregateFieldName": "m", "limitOperatorType": ">", "limit": 0})

    # phase A: events WITHOUT t_region — rule must not match them
    write_file(0, [{"eventTime": base_ms + i * 60_000, "t_g": "g0", "m": 1}
                   for i in range(2)])
    # phase B: events carrying the NEW tag key
    write_file(1, [{"eventTime": base_ms + (4 + i) * 60_000, "t_g": "g0",
                    "t_region": "eu", "m": 2} for i in range(2)])
    write_file(2, [{"eventTime": base_ms + 12_000_000, "t_g": FLUSH_TAG, "m": 0}])
    write_file(3, [{"eventTime": base_ms + 12_060_000, "t_g": FLUSH_TAG, "m": 0}])

    metrics = metrics_stream_from_text(spark, str(src), max_files_per_trigger=1)
    out = build_live_cep(metrics, spark, store.path, watermark="0 seconds")
    name = f"ntag_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ntag"))
        .trigger(availableNow=True).start()
    )
    await_stream(q, 120)
    rows = [r for r in spark.table(name).collect() if FLUSH_TAG not in r.group_id]
    base_s = base_ms // 1000
    got = sorted((r.group_id, r.window_start - base_s, r.agg_value) for r in rows)
    # ONLY the phase-B window, grouped by the new tag's value
    assert got == [("1_eu", 240, 4.0)], got


def test_gap_rule_survives_gap_only_micro_batch(spark, tmp_path):
    """Regression (found by the round-10 steady-state throughput replay):
    a GAP-window rule (slide > size) in a MULTI-micro-batch cadence can
    hand the window fold a batch slice whose events ALL fall between
    windows; it must fold nothing and not fail. The one-data-batch gate replay
    could never hit this (100k events always cover some window), which
    is exactly why throughput measurement must run the real cadence.
    Output must equal the batch engine's on the same data."""
    gap_wire = {
        "ruleId": 7, "ruleState": "ACTIVE", "windowType": "sliding",
        "windowMinutes": 1, "windowSlideMinute": 3,
        "groupingKeyNames": ["t_g"], "aggregatorFunctionType": "SUM",
        "aggregateFieldName": "m", "limitOperatorType": ">", "limit": 1,
    }
    gap_rule = Rule(rule_id=7, window_type="sliding", window_minutes=1,
                    window_slide_minutes=3, grouping_keys=("t_g",),
                    agg_type="SUM", agg_field="m", limit_op=">", limit="1")
    # epoch-aligned 60s windows every 180s: offset 0 is a window start,
    # offsets [60, 180) are the gap
    base_s = 1_700_000_100
    assert base_s % 180 == 0
    in_window = {"eventTime": base_s * 1000, "t_g": "g0", "m": 5}
    gap_only = [
        {"eventTime": (base_s + 60) * 1000, "t_g": "g0", "m": 7},
        {"eventTime": (base_s + 70) * 1000, "t_g": "g0", "m": 9},
    ]
    src = tmp_path / f"gapstream-{uuid.uuid4().hex[:8]}"
    src.mkdir()
    paths = []
    for i, chunk in enumerate([[in_window], gap_only]):
        p = src / f"{i:08d}.json"
        p.write_text("\n".join(json.dumps(e) for e in chunk))
        paths.append(p)
    max_t = (base_s + 70) * 1000
    for j, off in enumerate([86_400_000, 86_500_000]):
        p = src / f"zz_flush_{j}.json"
        p.write_text(json.dumps(
            {"eventTime": max_t + off, "t_g": FLUSH_TAG, "m": 0}))
        paths.append(p)
    base = time.time() - len(paths) - 10
    for k, p in enumerate(paths):
        os.utime(p, (base + k, base + k))

    store = RuleFileStore(str(tmp_path / "rules.json"))
    store.upsert(gap_wire)
    metrics = metrics_stream_from_text(spark, str(src), max_files_per_trigger=1)
    out = build_live_cep(metrics, spark, store.path, watermark="1 minute")
    name = f"live_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_gap"))
        .trigger(availableNow=True).start()
    )
    await_stream(q, 180)
    got = (
        spark.table(name)
        .filter(~F.col("group_id").contains(FLUSH_TAG))
        .collect()
    )
    batch_metrics = parse_metric_lines(
        spark.createDataFrame(
            [(json.dumps(e),) for e in [in_window] + gap_only], ["value"]
        )
    )
    expected = evaluate_rules(spark, batch_metrics, [gap_rule]).collect()
    key = lambda r: (r.rule_id, r.group_id, r.window_start, r.window_end,
                     r.agg_type, r.agg_value)
    assert sorted(map(key, got)) == sorted(map(key, expected))
    assert len(got) == 1  # exactly the in-window event's window fires


def _oracle_window_starts(ts: int, wtype: str, size: int, slide: int) -> list[int]:
    """Every window [start, start + size) that contains `ts`: tumbling
    windows tile the size grid; sliding windows start on the slide grid
    and may leave gaps between them when slide > size."""
    if wtype == "tumbling":
        return [ts - ts % size]
    return [
        k * slide
        for k in range((ts - size) // slide, ts // slide + 1)
        if k * slide <= ts < k * slide + size
    ]


def test_session_rule_with_new_gap_upserted_mid_run(spark, tmp_path):
    """One session branch serves every gap: a session rule whose gap no
    stored rule had at build time, upserted while the query runs, emits
    its sessions from the next batch on — no restart."""
    base_ms = 1_700_000_400_000  # 10-min epoch aligned
    mk = lambda sec: {"eventTime": base_ms + sec * 1000, "t_g": "g0", "m": 1}
    src = tmp_path / f"sgap-{uuid.uuid4().hex[:8]}"
    src.mkdir()
    t0 = time.time() - 120

    def write_file(idx: int, doc: dict) -> None:
        p = src / f"{idx:04d}.json"
        p.write_text(json.dumps(doc))
        os.utime(p, (t0 + idx, t0 + idx))

    session = {"windowType": "session", "groupingKeyNames": ["t_g"],
               "aggregatorFunctionType": "SUM", "aggregateFieldName": "m",
               "limitOperatorType": ">", "limit": 0}
    store = RuleFileStore(str(tmp_path / "rules_sgap.json"))
    store.upsert({**session, "ruleId": 1, "windowMinutes": 2})
    write_file(0, mk(0))

    metrics = metrics_stream_from_text(spark, str(src), max_files_per_trigger=1)
    out = build_live_cep(metrics, spark, store.path, watermark="1 minute")
    name = f"sgap_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_sgap"))
        .trigger(processingTime="200 milliseconds").start()
    )
    try:
        q.processAllAvailable()
        store.upsert({**session, "ruleId": 2, "windowMinutes": 5})
        for i, sec in enumerate([60, 120, 180, 240], start=1):
            write_file(i, mk(sec))
        # two pushers: the first moves the watermark past every session,
        # the batch of the second closes them
        write_file(5, {"eventTime": base_ms + 12_000_000, "t_g": FLUSH_TAG, "m": 0})
        write_file(6, {"eventTime": base_ms + 12_060_000, "t_g": FLUSH_TAG, "m": 0})
        q.processAllAvailable()
    finally:
        q.stop()
    base_s = base_ms // 1000
    got = sorted(
        (r.rule_id, r.window_start - base_s, r.window_end - base_s, r.agg_value)
        for r in spark.table(name).collect() if FLUSH_TAG not in r.group_id
    )
    # rule 1 (2-min gap): seconds 0..240 → [0, 360); rule 2 (5-min gap,
    # live from file 1 on): seconds 60..240 → [60, 540)
    assert got == [(1, 0, 360, 5.0), (2, 60, 540, 4.0)], got
