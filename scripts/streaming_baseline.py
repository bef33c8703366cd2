"""Fill BASELINE.md's streaming rows (VERDICT r8 task #2, extended per
r9 task #5): rows/s ingest and state-store footprint for the two
streaming engine paths, measured from StreamingQueryProgress on the same
replay scaffold the correctness gate runs — in THREE configurations:

  * gate replay      — one data micro-batch (the correctness gate's
                       shape); rows/s here includes one-time plan
                       compile/codegen, so it UNDERSTATES the engine;
  * steady replay    — maxFilesPerTrigger=1 over the 8-file scaffold
                       (≥9 micro-batches); `steady_*` metrics EXCLUDE
                       the first (compile) batch — the citable
                       steady-state throughput;
  * steady + RocksDB — the steady replay with
                       spark.sql.streaming.stateStore.providerClass set
                       to the built-in RocksDBStateStoreProvider (the
                       100 TB deployment conf, parity-tested in
                       tests/test_streaming_ops.py).

Paths:
  * cep_live_streaming  — the LIVE rule engine (the native window fold,
    gated per micro-batch against the refreshed rule table)
  * cep_streaming_windows — the NATIVE windowed pipeline (the same fold
    on the JVM state store, static rules; one tumbling + one SLIDING
    rule, so the sliding-window state row counts are in stateOperators)

Method: run each query at $SPARK_GRAFT_SF_DIR (default sf0.1,
events=100k rows) on local[$SPARK_GRAFT_CPUS]; streaming/pipeline.
await_stream captures the drained query's recentProgress; ingest rows/s
= numInputRows / triggerExecution seconds over the counted batches;
state = the peak across batches of the summed stateOperators
numRowsTotal / memoryUsedBytes. Writes STREAMING_BASELINE.json at the
repo root, STAMPED with the measurement epoch + git revision so a
bench.py re-run after streaming changes can flag staleness instead of
silently republishing old numbers (bench.py folds the file into
BENCH_DETAIL). Paste the table into BASELINE.md when re-measuring.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


# numInputRows counts rows per OPERATOR consumption of the source: the
# native windowed path unions TWO stateful aggregations (one per distinct
# window spec) over the same stream, so its progress reports 2 rows per
# source event. Divide back to per-EVENT ingest so the two paths'
# rows_per_s are comparable; the raw operator-level number is kept too.
SOURCE_CONSUMERS = {"cep_live_streaming": 1, "cep_streaming_windows": 2}

ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def _progress_metrics(progress: list[dict], consumers: int = 1) -> dict:
    def rate(batches: list[dict]) -> tuple[int, float, float | None]:
        rows = sum(p.get("numInputRows", 0) for p in batches)
        ms = sum(
            p.get("durationMs", {}).get("triggerExecution", 0) for p in batches
        )
        return rows, round(ms / 1000.0, 3), (
            round(rows / consumers / (ms / 1000.0), 1) if ms else None
        )

    rows, secs, event_rps = rate(progress)
    steady_rows, steady_secs, steady_rps = rate(progress[1:])
    return {
        "n_micro_batches": len(progress),
        "operator_input_rows": rows,
        "source_consumers": consumers,
        "event_rows": rows // consumers,
        "trigger_exec_s": secs,
        "operator_rows_per_s": (
            round(rows / secs, 1) if secs else None
        ),
        "event_rows_per_s": event_rps,
        # steady state = every batch after the first (compile) one; the
        # tail pusher/no-data batches stay included — they are part of
        # the real cadence and cost real trigger time
        "steady_event_rows": steady_rows // consumers,
        "steady_trigger_exec_s": steady_secs,
        "steady_event_rows_per_s": steady_rps,
        "peak_state_rows": max(
            (
                sum(so.get("numRowsTotal", 0) for so in p.get("stateOperators", []))
                for p in progress
            ),
            default=0,
        ),
        "peak_state_bytes": max(
            (
                sum(
                    so.get("memoryUsedBytes", 0)
                    for so in p.get("stateOperators", [])
                )
                for p in progress
            ),
            default=0,
        ),
    }


def _git_rev() -> str:
    try:
        return subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            cwd=REPO, capture_output=True, text=True, timeout=10,
        ).stdout.strip()
    except Exception:
        return "unknown"


def main() -> None:
    from flink_cep_task_spark.plans.cep_queries import (
        q_live_streaming,
        q_streaming_windows,
    )
    from flink_cep_task_spark.session import get_spark
    from flink_cep_task_spark.streaming import pipeline as P

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        app_name="streaming_baseline",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    fns = {
        "cep_live_streaming": q_live_streaming,
        "cep_streaming_windows": q_streaming_windows,
    }
    out: dict = {
        "sf_dir": sf_dir,
        "cpus": int(cpus),
        "measured_at_epoch_s": int(time.time()),
        "git_rev": _git_rev(),
        "queries": {},
    }
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    for name, fn in fns.items():
        consumers = SOURCE_CONSUMERS[name]
        entry: dict = {}
        # gate replay: one data batch (includes compile)
        n_out = fn(spark, sf_dir).count()
        entry["gate_replay"] = _progress_metrics(P.LAST_PROGRESS, consumers)
        entry["gate_replay"]["output_rows"] = n_out
        # steady replay: file-per-batch over the 8-file scaffold
        n_steady = fn(spark, sf_dir, files_per_trigger=1).count()
        entry["steady_replay"] = _progress_metrics(P.LAST_PROGRESS, consumers)
        entry["steady_replay"]["output_rows"] = n_steady
        # explicit raise, not assert (python -O strips asserts): a replay
        # that changes the answer must never publish throughput numbers
        if n_steady != n_out:
            raise ValueError(
                f"{name}: steady replay changed the answer ({n_steady} vs {n_out})"
            )
        # steady replay on the RocksDB state store (deployment conf)
        default = spark.conf.get(provider_key)
        try:
            spark.conf.set(provider_key, ROCKSDB)
            n_rocks = fn(spark, sf_dir, files_per_trigger=1).count()
        finally:
            spark.conf.set(provider_key, default)
        entry["steady_replay_rocksdb"] = _progress_metrics(
            P.LAST_PROGRESS, consumers
        )
        entry["steady_replay_rocksdb"]["output_rows"] = n_rocks
        if n_rocks != n_out:
            raise ValueError(
                f"{name}: RocksDB replay changed the answer ({n_rocks} vs {n_out})"
            )
        out["queries"][name] = entry
        print(name, json.dumps(entry, indent=1))
    path = os.path.join(REPO, "STREAMING_BASELINE.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
    print("wrote", path)


if __name__ == "__main__":
    main()
