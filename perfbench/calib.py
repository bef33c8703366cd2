"""Host-speed probe for the rule-engine benchmark.

The benchmark runs on a few cores of a shared host whose speed drifts by
20 % and more within a minute, as other tenants load it and the
hypervisor takes cores away (steal). This process times one fixed chunk
of pure-Python work every ``PERIOD_S`` for the whole run and appends
``epoch_seconds chunk_seconds`` to the file it is given. A chunk's time is
its wall time less the time this thread waited in the guest kernel's run
queue (``/proc/thread-self/schedstat``): it counts the host's slowness and
its steal, but not the guest running other threads, such as the engine's,
so it moves with the host, not with the engine's load.
``tracing.HostSpeed`` reads the file to scale the benchmark's wall times
to a reference speed.

    python3 perfbench/calib.py OUT_FILE

It stops when killed or when the process that started it is gone.
"""

from __future__ import annotations

import os
import sys
import time

CHUNK = 100_000  # loop iterations in one timed chunk: about 10 ms
PERIOD_S = 0.04  # pause between chunks, so the probe takes a fifth of a core


def chunk() -> int:
    s = 0
    for i in range(CHUNK):
        s += i * i
    return s


def run_queue_wait_s() -> float:
    """Seconds this thread has waited for a CPU (0 without schedstat)."""
    try:
        with open("/proc/thread-self/schedstat") as fh:
            return int(fh.read().split()[1]) / 1e9
    except (OSError, IndexError, ValueError):
        return 0.0


def main() -> None:
    parent = os.getppid()
    with open(sys.argv[1], "w", buffering=1) as fh:
        while os.getppid() == parent:
            w, t = run_queue_wait_s(), time.perf_counter()
            chunk()
            d = time.perf_counter() - t - (run_queue_wait_s() - w)
            fh.write(f"{time.time()!r} {d!r}\n")
            time.sleep(PERIOD_S)


if __name__ == "__main__":
    main()
