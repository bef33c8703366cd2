"""Run the reference's exact two-socket topology on this engine.

The reference job (CEPTaskRunner.java:31,37) reads metric JSON lines from
localhost:9999 and rule JSON lines from localhost:8888, evaluates the
live rule set, and prints threshold hits. This script is the drop-in
equivalent: metric socket → live dynamic-window CEP (rule CRUD takes
effect at the next micro-batch, fixing reference quirk Q6) → console
sink; the rule socket feeds the engine's rule store (the current
version of each rule) through the socket→store bridge.

Usage (three terminals):

    nc -lk 9999           # metric channel
    nc -lk 8888           # rule channel
    python scripts/run_reference_topology.py [--metric-port 9999] \
        [--rule-port 8888] [--watermark "10 minutes"]

then paste rule lines (reference wire format, e.g.
{"ruleId": 1, "windowType": "tumbling", "windowMinutes": 2,
 "groupingKeyNames": ["t_g"], "aggregatorFunctionType": "SUM",
 "aggregateFieldName": "m", "limitOperatorType": ">", "limit": 10})
into 8888 and metric lines ({"eventTime": 1700000000000, "t_g": "a",
"m": 7}) into 9999. Matches print to the console as windows close
(event-time watermark — results are never lost to wall-clock, fixing
quirk Q4). Ctrl-C stops both queries.

The same wiring is exercised hermetically by tests/test_live_rules.py::
test_dual_socket_rules_and_metrics; this script exists so a human can
run the reference's demo workflow unchanged.

`--check` replays the reference's ONLY documented workload — the 6
metric lines and 1 rule of its bundled sample (resources/metrics:1-6,
resources/rules:1, reproduced below as data fixtures) — through the same
live pipeline and asserts the emitted aggregate set: rule 1 is SUM of
cpu_usage per t_group over 2-minute tumbling windows with limit
GREATER 11; all six events share window [1650557400000, 1650557520000)
ms and both groups sum to 16 (business: 9+2+5, work: 1+5+10), so the
job must emit exactly {1_business: 16, 1_work: 16}. This is a living
parity proof against the reference's own demo; exercised hermetically
by tests/test_reference_check.py.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# the reference's bundled sample workload, verbatim (data fixture, cited:
# resources/metrics lines 1-6 and resources/rules line 1). Note the rule
# uses the wire forms the reference's fastjson ingest actually accepts:
# bare-string groupingKeyNames, enum-name operator "GREATER", and the
# capital-L "LimitOperatorType" key — all three are parsed by this
# engine's rule parsers (rules.py) without modification.
REF_METRIC_LINES = [
    '{"eventTime":1650557501028,"t_ip": "127.0.0.4", "t_name": "m1", "t_group": "business","cpu_usage": 9, "memory_usage": 4, "jvm_heap_size": 5000}',
    '{"eventTime":1650557502028,"t_ip": "127.0.0.4", "t_name": "m2", "t_group": "work","cpu_usage": 1, "memory_usage": 3, "jvm_heap_size": 5000}',
    '{"eventTime":1650557503028,"t_ip": "127.0.0.1", "t_name": "m1", "t_group": "business","cpu_usage": 2, "memory_usage": 44, "jvm_heap_size": 555}',
    '{"eventTime":1650557504028,"t_ip": "127.0.0.2", "t_name": "m2", "t_group": "work","cpu_usage": 5, "memory_usage": 33, "jvm_heap_size": 666}',
    '{"eventTime":1650557505028,"t_ip": "127.0.0.5", "t_name": "m1", "t_group": "work","cpu_usage": 10, "memory_usage": 66, "jvm_heap_size": 777}',
    '{"eventTime":1650557506028,"t_ip": "127.0.0.5", "t_name": "m1", "t_group": "business","cpu_usage": 5, "memory_usage": 4, "jvm_heap_size": 888}',
]
REF_RULE_LINE = (
    '{"ruleId":1,"ruleState":"ACTIVE","windowType":"tumbling",'
    '"windowMinutes":2,"groupingKeyNames":"t_group",'
    '"aggregatorFunctionType":"SUM","aggregateFieldName":"cpu_usage",'
    '"LimitOperatorType":"GREATER","limit":11}'
)
# both groups sum cpu_usage to 16 (> 11) inside the single 2-minute
# epoch window covering the sample's 5-second span
REF_EXPECTED = {("1_business", 16.0), ("1_work", 16.0)}


def run_reference_check(spark) -> set[tuple[str, float]]:
    """Replay the reference's sample workload through the live engine and
    return the emitted {(group_id, agg_value)} set. The rule line goes
    through the same json.loads → store.upsert path the socket absorber
    uses (rules_socket_to_store); the metric lines replay as a file
    stream into the same parse_metric_lines → build_live_cep pipeline,
    with one flush line (no t_group tag — it can never fan out to rule 1)
    advancing the watermark so the window closes in the no-data batch."""
    import uuid

    from flink_cep_task_spark.streaming.live import RuleFileStore, build_live_cep
    from flink_cep_task_spark.streaming.pipeline import await_stream, metric_source

    work = tempfile.mkdtemp(prefix="ref_topo_check_")
    store = RuleFileStore(os.path.join(work, "rules.json"))
    store.upsert(json.loads(REF_RULE_LINE))

    src = os.path.join(work, "src")
    os.makedirs(src)
    data = os.path.join(src, "metrics.txt")
    with open(data, "w") as fh:
        fh.write("\n".join(REF_METRIC_LINES) + "\n")
    flush_ms = 1650557506028 + 40 * 86_400_000
    flush = os.path.join(src, "zz_flush.txt")
    with open(flush, "w") as fh:
        fh.write(
            json.dumps({"eventTime": flush_ms, "t_flush": "zz", "zzf": 0}) + "\n"
        )
    base = os.path.getmtime(data)
    os.utime(flush, (base + 10, base + 10))

    metrics = metric_source(spark, "file", path=src, max_files_per_trigger=2)
    out = build_live_cep(metrics, spark, store.path, watermark="1 minute")
    name = f"ref_check_{uuid.uuid4().hex[:8]}"
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            out.writeStream.format("memory").queryName(name)
            .outputMode("append")
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True).start()
        )
        await_stream(q, 600)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    return {
        (r.group_id, float(r.agg_value))
        for r in spark.table(name).collect()
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--metric-port", type=int, default=9999)
    ap.add_argument("--rule-port", type=int, default=8888)
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--watermark", default="10 minutes")
    ap.add_argument(
        "--check",
        action="store_true",
        help="replay the reference's bundled 6-event/1-rule sample and "
        "assert the emitted aggregates instead of listening on sockets",
    )
    args = ap.parse_args()

    if args.check:
        from flink_cep_task_spark.session import get_spark

        spark = get_spark(app_name="reference_topology_check")
        got = run_reference_check(spark)
        print(f"emitted: {sorted(got)}")
        print(f"expected: {sorted(REF_EXPECTED)}")
        if got == REF_EXPECTED:
            print("CHECK PASS")
            spark.stop()
            return
        print("CHECK FAIL")
        spark.stop()
        sys.exit(1)

    from flink_cep_task_spark.session import get_spark
    from flink_cep_task_spark.streaming.live import RuleFileStore, build_live_cep
    from flink_cep_task_spark.streaming.pipeline import (
        metrics_stream_from_socket,
        rules_socket_to_store,
    )

    spark = get_spark(app_name="reference_topology")
    work = tempfile.mkdtemp(prefix="ref_topo_")
    store = RuleFileStore(os.path.join(work, "rules.json"))

    bridge = rules_socket_to_store(
        spark, store, host=args.host, port=args.rule_port
    )
    metrics = metrics_stream_from_socket(spark, args.host, args.metric_port)
    out = build_live_cep(metrics, spark, store.path, watermark=args.watermark)
    q = (
        out.writeStream.format("console")
        .outputMode("append")
        .option("truncate", "false")
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .start()
    )
    print(
        f"listening: metrics on {args.host}:{args.metric_port}, "
        f"rules on {args.host}:{args.rule_port} — Ctrl-C to stop",
        flush=True,
    )
    try:
        q.awaitTermination()
    except KeyboardInterrupt:
        pass
    finally:
        q.stop()
        bridge.stop()
        spark.stop()


if __name__ == "__main__":
    main()
