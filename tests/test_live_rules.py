"""LIVE rule stream tests — the reference's defining feature: rule CRUD
takes effect mid-run in the SAME streaming query (CEPTaskRunner.java:37-45,
PartitionEngine.java:54-63), modeled as a per-micro-batch-refreshed rule
table + dynamic-window stateful operator (streaming/live.py)."""

from __future__ import annotations

import json
import os
import time
import uuid

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
    """Store upserts/deletes → typed store read + compaction resolves the
    latest ACTIVE rule set (BroadcastState upsert/remove twin)."""
    store = RuleFileStore(str(tmp_path / "rules.json"))
    store.upsert(R1_WIRE)
    store.upsert(R2_WIRE)
    store.upsert({**R1_WIRE, "limit": 999})      # upsert: last writer wins
    store.upsert({**R2_WIRE, "ruleState": "PAUSE"})
    store.delete(2)                               # tombstone wins over PAUSE
    compacted = compact_rules(rules_from_store(spark, store.path)).collect()
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


def test_live_global_rules_update_mode(spark, tmp_path):
    """Global-window rules through the LIVE path: running aggregates in
    update mode, threshold gated in foreachBatch against the freshly-read
    rule store — a mid-run limit change re-gates the SAME running
    aggregate (state is keyed without config columns)."""
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
        deadline = time.time() + 60
        # wait until both phase-B events were aggregated (any emission or
        # quiet period after files consumed)
        while time.time() < deadline:
            prog = q.recentProgress
            if sum(p["numInputRows"] for p in prog) >= 5:
                time.sleep(2)  # let the last gated batch drain
                break
            time.sleep(0.5)
    finally:
        q.stop()

    # phase A emitted running maxima (limit 0); phase B values (40, 50)
    # exceed the old limit but NOT the new one — no emissions after upsert
    assert [v for *_k, v in seen[:n_before]] and max(v for *_k, v in seen[:n_before]) == 30.0
    assert len(seen) == n_before, f"rows emitted past the raised limit: {seen[n_before:]}"


def test_rule_midstream_upsert_and_delete(spark, tmp_path):
    """THE live-rules scenario, one continuous query:

      phase A: rule 1 active, events flow        → rule-1 windows fire
      mid-run: upsert rule 7 + DELETE rule 1     → same run, no restart
      phase B: more events flow                  → rule-7 windows fire for
                                                   phase-B events ONLY;
                                                   rule 1 stops matching,
                                                   its in-flight window
                                                   still flushes (strictly
                                                   better than reference Q6,
                                                   which leaks it forever)
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
    # rule 1 saw ONLY phase A (deleted before phase B): windows [0,2) and
    # [2,4) minutes, SUM=2 each ([2,4) flushed by watermark after delete).
    assert {(s, e) for s, e, _ in r1_rows} == {(0, 120), (120, 240)}
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
    mid-run upsert+DELETE takes effect without restart — the socket twin
    of test_rule_midstream_upsert_and_delete."""
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

        def await_store(pred, what: str, timeout_s: float = 30.0):
            deadline = time.time() + timeout_s
            while time.time() < deadline:
                if pred(store._log):
                    return
                time.sleep(0.2)
            raise TimeoutError(f"rule store never saw {what}: {store._log}")

        # phase A: rule 1 over the rule socket (plus a junk line that must
        # be dropped), then metrics minutes 0..3 over the metric socket
        rule_server.send([
            "not json at all {",
            json.dumps({"ruleId": 1, "windowType": "tumbling", "windowMinutes": 2,
                        "groupingKeyNames": ["t_g"], "aggregatorFunctionType": "SUM",
                        "aggregateFieldName": "m", "limitOperatorType": ">",
                        "limit": 0}),
        ])
        await_store(lambda log: any(d.get("ruleId") == 1 for d in log), "rule 1")
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
        await_store(
            lambda log: any(d.get("ruleId") == 7 for d in log)
            and any(d.get("ruleId") == 1 and d.get("ruleState") == "DELETE" for d in log),
            "rule 7 + delete 1",
        )

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
    # rule 1: phase A only — deleted before phase B ([2,4) flushes post-delete)
    assert {(s, e) for s, e, _ in r1} == {(0, 120), (120, 240)}
    assert all(v == 2.0 for _s, _e, v in r1)
    # rule 7: phase B only
    assert {(s, e) for s, e, _ in r7} == {(240, 360), (360, 480)}
    assert all(v == 1.0 for _s, _e, v in r7)


def test_output_invariant_to_state_bucket_count(spark, tmp_path):
    """State coarsening is a layout decision, not a semantic one: the live
    engine must produce identical results with 1 bucket (everything in one
    key) and the default 64 (groups spread across keys)."""
    events = _events()
    results = []
    for buckets in (1, 64):
        (tmp_path / f"b{buckets}").mkdir(exist_ok=True)
        src = _write_chunks(tmp_path / f"b{buckets}", events)
        store = RuleFileStore(str(tmp_path / f"rules_b{buckets}.json"))
        store.upsert(R1_WIRE)
        store.upsert(R2_WIRE)
        metrics = metrics_stream_from_text(spark, src, max_files_per_trigger=3)
        out = build_live_cep(metrics, spark, store.path, watermark="1 minute",
                             state_buckets=buckets)
        name = f"bk_{buckets}_{uuid.uuid4().hex[:8]}"
        q = (
            out.writeStream.format("memory").queryName(name).outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"ckpt_b{buckets}"))
            .trigger(availableNow=True).start()
        )
        await_stream(q, 180)
        rows = spark.table(name).filter(~F.col("group_id").contains(FLUSH_TAG)).collect()
        results.append(sorted(
            (r.rule_id, r.group_id, r.window_start, r.window_end, r.agg_type, r.agg_value)
            for r in rows
        ))
    assert results[0] == results[1]
    assert len(results[0]) > 0


def test_live_engine_handles_near_epoch_timestamps(spark, tmp_path):
    """Sliding windows covering events near epoch 0 start at NEGATIVE
    seconds (the reference's own unit tests use ts=1ms,
    TumblingWindowAssignerTest.java) — the bucketed fold's key packing must
    not corrupt them. Streaming output must equal the batch engine on the
    same tiny-timestamp data."""
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
        "expected at least one negative-start window to prove the packing path"
    )


def test_watermark_drops_late_rows_keeps_out_of_order(spark, tmp_path):
    """T1-T3 semantics, pinned: an out-of-order row that arrives WITHIN the
    watermark still lands in its (already-open) window; a row arriving
    AFTER the watermark passed its window's end is dropped — never a
    double-fire, never a resurrected window (the reference's wall-clock
    trigger either lost such results entirely — quirk Q4 — or re-fired)."""
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
    # batch 2: second 150 (in-order for [2,4)) AND second 60 — LATE: its
    # window [0,2) end (120s) ≤ watermark (120s), so the row must be
    # discarded and [0,2) must fire WITHOUT it, exactly once
    write_file(1, [mk(150, 1), mk(60, 100)])
    # batch 3: second 210 out-of-order-within-watermark for open window [2,4)
    write_file(2, [mk(210, 1)])
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
    # [0,2): ONLY the second-0 row (late second-60 row dropped, no re-fire);
    # [2,4): seconds 150, 180, 210 — the out-of-order 210 row counted.
    assert got == [(0, 120, 1.0), (120, 240, 3.0)], got


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
    hand the stateful operator a batch slice whose events ALL fall
    between windows — the vectorized cover loop then collects zero
    arrays and np.concatenate raised. The one-data-batch gate replay
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
