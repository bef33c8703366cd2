#!/usr/bin/env python3
"""Rule-engine benchmark: run one workload once and print one JSON result.

    python3 perfbench/run.py --workload backfill_batch --seed 1 --seconds 20 --trace 0

Workloads (see README.md beside this file): ``backfill_batch`` and
``live_rules``. With ``--trace 0`` the result carries every end-to-end
metric, with ``--trace 1`` every per-layer metric, and a traced run also
writes its spans to ``.bench_run/spans/``. Each metric is also printed as
``name value unit``; the last line is the JSON result. Inputs come from
``--seed``; results are checked against the DuckDB oracle. All scratch
files live under ``.bench_run/`` in the checkout and are removed when the
run ends, even when it fails.

End-to-end times are scaled to a reference host speed measured during the
run (see ``calib.py`` and ``tracing.HostSpeed``); the unscaled wall-clock
figures are printed too, as ``wall.<name> value unit`` lines.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_DIR = os.path.join(ROOT, ".bench_run")
# the engine runs on local[CORES]: two of the host's four cores, so the
# JVM's compiler and collector threads, the Python driver, the input
# writer and the host-speed probe run beside its tasks, not between them
CORES = 2
DEADLINE_S = 140  # a run not done by then fails; with clean-up it exits within 180 s

END_TO_END = {
    "setup_s": "s",
    "events_per_s": "1/s",
    "batch_latency_p50_ms": "ms",
    "batch_latency_p90_ms": "ms",
    "alert_latency_p50_ms": "ms",
    "alert_latency_p90_ms": "ms",
    "rule_update_latency_p50_ms": "ms",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "sources.parse_s": "s",
    "sources.input_rows": "count",
    "sources.drop_ratio": "ratio",
    "rules.compile_ms": "ms",
    "rules.store_read_ms": "ms",
    "rules.upsert_ms": "ms",
    "rules.active": "count",
    "fanout.s": "s",
    "fanout.rows_out": "count",
    "fanout.ratio": "ratio",
    "windows.assign_s": "s",
    "windows.assigned_rows": "count",
    "windows.explode_ratio": "ratio",
    "windows.aggregate_s": "s",
    "windows.aggregates": "count",
    "windows.emitted": "count",
    "windows.pass_ratio": "ratio",
    "windows.shuffle_write_bytes": "bytes",
    "windows.partition_skew": "ratio",
    "cep.plan_build_ms": "ms",
    "stream.batches": "count",
    "stream.trigger_ms_p50": "ms",
    "stream.trigger_ms_p90": "ms",
    "stream.add_batch_ms_p50": "ms",
    "stream.planning_ms_p50": "ms",
    "stream.wal_commit_ms_p50": "ms",
    "stream.get_batch_ms_p50": "ms",
    "stream.idle_ms_total": "ms",
    "stream.state_ops": "count",
    "stream.state_rows_peak": "count",
    "stream.state_bytes_peak": "bytes",
    "stream.state_commit_ms_p50": "ms",
    "stream.rows_dropped_by_watermark": "count",
    "sink.write_ms_p50": "ms",
    "proc.cpu_s": "s",
    "proc.cpu_util": "ratio",
    "proc.ext_cpu_cores": "cores",
    "proc.speedup_vs_1core": "ratio",
    "generator.late_ms_max": "ms",
    "generator.backlog_slope_events_per_s": "1/s",
    "trace.overhead_ratio": "ratio",
}


class Deadline(Exception):
    pass


def _on_alarm(signum, frame):
    raise Deadline(f"run not finished after {DEADLINE_S} s")


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def _clean_stale() -> None:
    """Remove scratch left by earlier runs whose process is gone."""
    if not os.path.isdir(RUN_DIR):
        return
    for name in os.listdir(RUN_DIR):
        if name.isdigit() and not _alive(int(name)):
            shutil.rmtree(os.path.join(RUN_DIR, name), ignore_errors=True)


class Run:
    """One invocation: arguments, scratch directory, spans, the Spark
    session and every process started, all released by ``close``."""

    def __init__(self, args: argparse.Namespace, t_start: float, t_start_epoch: float):
        from tracing import HostSpeed, Spans

        self.args = args
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.cores = CORES
        self.t_start = t_start
        self.t_start_epoch = t_start_epoch
        self.spans = Spans(self.trace)
        self.scratch = os.path.join(RUN_DIR, str(os.getpid()))
        self.spark = None
        self._jvm = None
        self._procs: list[subprocess.Popen] = []
        os.makedirs(self.dir("tmp"), exist_ok=True)
        # the Spark JVM and its Python workers inherit these: workers must
        # import the engine package, and every temp file stays in the checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        )
        os.environ["TMPDIR"] = self.dir("tmp")
        # pyspark's Arrow serializer warns on every empty pandas group
        os.environ["PYTHONWARNINGS"] = "ignore::FutureWarning"
        os.environ["SPARK_LOCAL_DIRS"] = self.dir("local")
        probe = os.path.join(self.scratch, "calib.txt")
        self.spawn([sys.executable, os.path.join(HERE, "calib.py"), probe])
        self.speed = HostSpeed(probe)

    def dir(self, *parts: str) -> str:
        p = os.path.join(self.scratch, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def start_spark(self, master: str = f"local[{CORES}]"):
        from pyspark import SparkContext

        from flink_cep_task_spark.session import get_spark

        tmp = self.dir("tmp")
        self.spark = get_spark(
            app_name="perfbench",
            master=master,
            shuffle_partitions=CORES,
            extra_conf={
                "spark.ui.enabled": "true" if self.trace else "false",
                "spark.ui.showConsoleProgress": "false",
                # a fixed, pre-touched heap, so peak RSS does not hinge on
                # when the collector runs
                "spark.driver.memory": "2g",
                "spark.local.dir": self.dir("local"),
                "spark.sql.warehouse.dir": self.dir("warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g -XX:+AlwaysPreTouch",
                "spark.sql.streaming.numRecentProgressUpdates": "1000",
            },
        )
        self._jvm = SparkContext._gateway.proc
        return self.spark

    def restart_spark(self, master: str):
        """A new SparkContext in the same JVM (e.g. with fewer cores)."""
        self.spark.stop()
        return self.start_spark(master)

    def spawn(self, cmd: list[str]) -> subprocess.Popen:
        p = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        self._procs.append(p)
        return p

    def close(self) -> None:
        from tracing import descendants

        for p in self._procs:
            if p.poll() is None:
                p.kill()
            p.wait(timeout=10)
        kids = descendants(os.getpid())
        if self.spark is not None:
            try:
                self.spark.stop()
            except Exception as e:  # the JVM may already be gone
                print(f"spark.stop failed: {e!r}", file=sys.stderr)
        if self._jvm is not None and self._jvm.poll() is None:
            # the gateway JVM exits when its stdin closes
            self._jvm.stdin.close()
            try:
                self._jvm.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self._jvm.kill()
                self._jvm.wait(timeout=10)
        deadline = time.time() + 10
        while any(_alive(k) for k in kids) and time.time() < deadline:
            time.sleep(0.1)
        for k in kids:
            if _alive(k):
                os.kill(k, signal.SIGKILL)
        shutil.rmtree(self.scratch, ignore_errors=True)

    def save_spans(self) -> str:
        d = os.path.join(RUN_DIR, "spans")
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, f"{self.args.workload}-seed{self.seed}-{os.getpid()}.json")
        self.spans.dump(path)
        return path


def _failed(why: str) -> int:
    """A crashed or incomplete run: its result counts as all wrong."""
    print(why, file=sys.stderr)
    print("result_mismatch_ratio 1.0 ratio")
    print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
    return 1


def main(argv: list[str] | None = None) -> int:
    t_start, t_start_epoch = time.perf_counter(), time.time()
    ap = argparse.ArgumentParser(description="rule-engine benchmark")
    ap.add_argument("--workload", required=True, choices=["backfill_batch", "live_rules"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import flink_cep_task_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"engine not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    _clean_stale()
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(DEADLINE_S)
    run = Run(args, t_start, t_start_epoch)
    try:
        if args.workload == "backfill_batch":
            from backfill import run_backfill as fn
        else:
            from stream import run_stream as fn
        out = fn(run)
        if run.trace:
            print(f"spans {run.save_spans()}")
    except Exception as e:
        signal.alarm(0)
        traceback.print_exc()
        return _failed(f"run failed: {e!r}")
    finally:
        signal.alarm(0)
        run.close()

    names = PER_LAYER if run.trace else END_TO_END
    missing = sorted(set(names) - set(out["metrics"]))
    if missing:
        return _failed(f"metrics not measured: {missing}")
    metrics = {k: {"value": float(out["metrics"][k]), "unit": u} for k, u in names.items()}
    print(f"result_mismatch_ratio {out['mismatch']} ratio")
    for k, m in metrics.items():
        print(f"{k} {m['value']} {m['unit']}")
    if not run.trace:
        for k, v in out["wall"].items():
            print(f"wall.{k} {v} {END_TO_END[k]}")
    print(json.dumps({
        "correct": out["mismatch"] == 0 and out["failed"] == 0,
        "attempted": int(out["attempted"]),
        "failed": int(out["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
