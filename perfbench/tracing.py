"""Measurement helpers: spans, process-tree sampling, streaming progress
and the Spark status REST API.

Spans are recorded around calls into the engine from the benchmark's own
files, kept in memory and written as JSON once, at the end of a traced run.
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime

import numpy as np

from flink_cep_task_spark.benchutil import HZ, host_jiffies, tree_jiffies


# median time of one ``calib.chunk`` (as ``calib.py`` times it) on the
# reference host, a 4-vCPU, 15 GB virtual machine on a shared x86-64 host
REF_CHUNK_S = 0.010
MIN_CHUNKS = 5  # a speed is the median of at least this many chunks


def pct(values, q: float) -> float:
    """q-th percentile (linear interpolation) of a non-empty sample."""
    if len(values) == 0:
        raise ValueError("percentile of an empty sample")
    return float(np.percentile(np.asarray(values, dtype=np.float64), q))


class HostSpeed:
    """Host speed over a run, from the chunks ``calib.py`` timed.

    ``scale(a, b)`` is ``REF_CHUNK_S`` over the median chunk time between
    epoch seconds a and b (at least ``MIN_CHUNKS`` chunks, taken around
    the middle of a shorter interval). A wall time spent over [a, b] times
    the scale is that time at the reference host's speed: the benchmark's
    end-to-end times are reported so, because the host's own drift from
    minute to minute is larger than the changes they are meant to show."""

    def __init__(self, path: str):
        self.path = path
        self.t = self.chunk_s = np.empty(0)

    def load(self) -> "HostSpeed":
        """Read the chunks timed so far (the probe keeps appending)."""
        rows = []
        with open(self.path) as fh:
            for line in fh:
                try:
                    t, d = map(float, line.split())
                except ValueError:  # the line being written
                    continue
                rows.append((t, d))
        if len(rows) < MIN_CHUNKS:
            raise RuntimeError(f"host-speed probe timed only {len(rows)} chunks")
        a = np.array(rows)
        self.t, self.chunk_s = a[:, 0], a[:, 1]
        return self

    def scale(self, a: float, b: float) -> float:
        lo, hi = np.searchsorted(self.t, [a, b])
        if hi - lo < MIN_CHUNKS:
            mid = int(np.searchsorted(self.t, (a + b) / 2))
            lo = max(0, min(mid - MIN_CHUNKS // 2, len(self.t) - MIN_CHUNKS))
            hi = lo + MIN_CHUNKS
        return REF_CHUNK_S / float(np.median(self.chunk_s[lo:hi]))


class Spans:
    """In-memory span log: name, start, end, parent span and attributes.
    With ``enabled`` false every call is a no-op, so untraced runs pay
    nothing for the instrumentation."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.rows: list[dict] = []

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.rows)
        row = {"id": sid, "name": name, "parent": parent, "start": time.time(), **attrs}
        self.rows.append(row)
        try:
            yield sid
        finally:
            row["end"] = time.time()

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int | None:
        """Record a span measured elsewhere (e.g. a micro-batch's progress)."""
        if not self.enabled:
            return None
        sid = len(self.rows)
        self.rows.append({"id": sid, "name": name, "parent": parent,
                          "start": start, "end": end, **attrs})
        return sid

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.rows, fh)


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
        except OSError:
            continue
    return out


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``."""
    seen, stack = [], _children(pid)
    while stack:
        p = stack.pop()
        if p not in seen:
            seen.append(p)
            stack.extend(_children(p))
    return seen


def tree_pss_bytes(pid: int) -> int:
    """Proportional set size of ``pid`` and all its descendants: pages
    shared between processes (forked Python workers) count once in total."""
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            continue
    return total


class ProcSampler:
    """Samples the summed PSS of this process and all its descendants (the
    Spark JVM, its Python workers, the input writer) every ``period_s``."""

    def __init__(self, period_s: float = 0.5):
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(os.getpid()))
            self._stop.wait(self.period_s)

    def start(self) -> "ProcSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class CpuWindow:
    """CPU seconds of this process tree and of the other tenants of the
    host over one interval."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.own0 = tree_jiffies(os.getpid()) or 0
        self.host0 = host_jiffies() or 0

    def finish(self, cores: int) -> dict:
        wall = time.perf_counter() - self.t0
        own = ((tree_jiffies(os.getpid()) or 0) - self.own0) / HZ
        host = ((host_jiffies() or 0) - self.host0) / HZ
        return {
            "proc.cpu_s": own,
            "proc.cpu_util": own / (wall * cores),
            "proc.ext_cpu_cores": max(0.0, host - own) / wall,
        }


def progress_end(p: dict) -> float:
    """Epoch seconds at which a micro-batch finished (start + trigger)."""
    start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
    return start + p["durationMs"].get("triggerExecution", 0) / 1000.0


def watermark_s(p: dict) -> float:
    wm = p.get("eventTime", {}).get("watermark")
    if not wm:
        return float("-inf")
    return datetime.fromisoformat(wm.replace("Z", "+00:00")).timestamp()


def batches(progress: list[dict]) -> list[dict]:
    """One progress record per executed micro-batch, in batch order. Idle
    heartbeats repeat the last batch id without running it; they are the
    records without an addBatch duration."""
    by_id: dict[int, dict] = {}
    for p in progress:
        if "addBatch" in p.get("durationMs", {}):
            by_id[p["batchId"]] = p
    return [by_id[k] for k in sorted(by_id)]


def stream_layer_metrics(bs: list[dict]) -> dict:
    """Per-layer stream metrics from the micro-batches' progress."""
    dur = lambda k: [b["durationMs"].get(k, 0) for b in bs]  # noqa: E731
    ops = [b.get("stateOperators", []) for b in bs]
    idle = sum(
        max(0.0, datetime.fromisoformat(b["timestamp"].replace("Z", "+00:00")).timestamp()
            - progress_end(a))
        for a, b in zip(bs, bs[1:])
    )
    return {
        "stream.batches": len(bs),
        "stream.trigger_ms_p50": pct(dur("triggerExecution"), 50),
        "stream.trigger_ms_p90": pct(dur("triggerExecution"), 90),
        "stream.add_batch_ms_p50": pct(dur("addBatch"), 50),
        "stream.planning_ms_p50": pct(dur("queryPlanning"), 50),
        "stream.wal_commit_ms_p50": pct(dur("walCommit"), 50),
        "stream.get_batch_ms_p50": pct(
            [b["durationMs"].get("getBatch", 0) + b["durationMs"].get("latestOffset", 0) for b in bs], 50),
        "stream.idle_ms_total": idle * 1000.0,
        "stream.state_ops": max(len(o) for o in ops),
        "stream.state_rows_peak": max(sum(s.get("numRowsTotal", 0) for s in o) for o in ops),
        "stream.state_bytes_peak": max(sum(s.get("memoryUsedBytes", 0) for s in o) for o in ops),
        "stream.state_commit_ms_p50": pct([sum(s.get("commitTimeMs", 0) for s in o) for o in ops], 50),
        "stream.rows_dropped_by_watermark": sum(
            s.get("numRowsDroppedByWatermark", 0) for o in ops for s in o),
    }


def _get(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read())


def shuffle_write(spark, since_stage: int = 0) -> tuple[float, float]:
    """(shuffle bytes written, max / median partition bytes) over the
    completed stages with id >= ``since_stage``, from the status REST API
    of the local UI. Skew is taken over the tasks of the stage that wrote
    the most shuffle bytes."""
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    stages = [
        s for s in _get(f"{base}/api/v1/applications/{app}/stages?status=complete")
        if s["stageId"] >= since_stage
    ]
    total = float(sum(s.get("shuffleWriteBytes", 0) for s in stages))
    if not stages or total == 0:
        return total, 1.0
    top = max(stages, key=lambda s: s.get("shuffleWriteBytes", 0))
    tasks = _get(
        f"{base}/api/v1/applications/{app}/stages/{top['stageId']}/{top['attemptId']}"
        "/taskList?length=10000"
    )
    sizes = [
        t.get("taskMetrics", {}).get("shuffleWriteMetrics", {}).get("bytesWritten", 0)
        for t in tasks
    ]
    med = float(np.median(sizes)) if sizes else 0.0
    return total, (max(sizes) / med) if med > 0 else 1.0


def last_stage_id(spark) -> int:
    """Id the next stage will have at least, from the status REST API;
    pass it to ``shuffle_write`` to scope it to the stages run after."""
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    ids = [s["stageId"] for s in _get(f"{base}/api/v1/applications/{app}/stages")]
    return max(ids) + 1 if ids else 0
