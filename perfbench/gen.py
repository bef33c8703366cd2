"""Seeded input generator for the rule-engine benchmark.

Every input the engine sees is a reference-wire JSON line
(``eventTime`` epoch millis, ``t_*`` string tags, one integer measure
``value``) rendered from arrays drawn with ``numpy.random.default_rng(seed)``:
the same seed gives byte-identical files, a different seed different ones.

Run as a script this module is the open-loop writer of the streaming
workloads: it pre-renders every file into a staging directory, prints
``ready``, reads the start time t0 from stdin, and at each due time
``t0 + k * interval`` stamps the file's mtime and renames it into the
watched directory. Rendering happens before t0, so the writer's own cost
cannot delay the schedule. It records each file's due time and lateness
in a manifest written when the schedule ends. The last file is the
watermark pusher.

    python3 perfbench/gen.py --workload live_rules --seed 1 \
        --files 40 --staging DIR --watch DIR --manifest FILE
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from dataclasses import dataclass

import numpy as np

# 2023-11-14 00:00:00 UTC: day-aligned, so every window grid starts clean
BASE_S = 1_699_920_000
EVENT_TYPES = 20
VALUE_MAX = 200  # measures are integers in [0, VALUE_MAX)


@dataclass(frozen=True)
class Profile:
    """Input properties of one workload."""

    users: int  # group cardinality of the t_user tag
    zipf: float  # 0 = uniform user keys, else the Zipf exponent
    malformed: float  # share of lines the parser must drop
    out_of_order: float  # share of events moved back in event time
    ooo_max_s: int  # how far back, in event seconds (inside the watermark delay)
    # batch workloads: a fixed backlog spread over span_s event seconds
    events: int = 0
    span_s: int = 0
    parts: int = 1
    # streaming workloads: one file every interval_s wall seconds
    events_per_file: int = 0
    interval_s: float = 0.5
    speed: float = 1.0  # event seconds per wall second


PROFILES = {
    "backfill_batch": Profile(
        users=4_000, zipf=0.0, malformed=0.001, out_of_order=0.0, ooo_max_s=0,
        events=40_000, span_s=14 * 86_400, parts=4,
    ),
    "live_rules": Profile(
        users=50_000, zipf=1.1, malformed=0.001, out_of_order=0.02, ooo_max_s=30,
        events_per_file=300, interval_s=0.5, speed=120.0,
    ),
}


@dataclass
class Events:
    """Generated events in line order. ``bad`` marks lines rendered
    malformed; ``file`` is the index of the file holding each line."""

    ts_ms: np.ndarray
    user: np.ndarray
    etype: np.ndarray
    value: np.ndarray
    bad: np.ndarray
    file: np.ndarray

    def __len__(self) -> int:
        return len(self.ts_ms)


def rule_doc(r) -> dict:
    """Reference wire document of an engine ``Rule``."""
    doc = {
        "ruleId": r.rule_id,
        "ruleState": r.rule_state,
        "windowType": r.window_type,
        "groupingKeyNames": list(r.grouping_keys),
        "aggregatorFunctionType": r.agg_type,
        "aggregateFieldName": r.agg_field,
        "limitOperatorType": r.limit_op,
        "limit": int(float(r.limit)),
    }
    if r.window_minutes is not None:
        doc["windowMinutes"] = r.window_minutes
    if r.window_slide_minutes is not None:
        doc["windowSlideMinute"] = r.window_slide_minutes
    return doc


def _users(rng: np.random.Generator, p: Profile, n: int) -> np.ndarray:
    if p.zipf <= 0:
        return rng.integers(0, p.users, n)
    w = 1.0 / np.arange(1, p.users + 1, dtype=np.float64) ** p.zipf
    return rng.choice(p.users, size=n, p=w / w.sum())


def generate(workload: str, seed: int, files: int = 0) -> Events:
    """Events of one workload. Streaming workloads take the number of
    files to fill; batch ones ignore it."""
    p = PROFILES[workload]
    rng = np.random.default_rng([seed, sorted(PROFILES).index(workload)])
    if p.events_per_file:
        n = files * p.events_per_file
        file = np.repeat(np.arange(files, dtype=np.int64), p.events_per_file)
        step = p.interval_s * p.speed  # event seconds covered by one file
        ts = BASE_S + file * step + rng.uniform(0.0, step, n)
        # in order within a file, then a share moved back inside the delay
        ts = np.sort(ts.reshape(files, p.events_per_file), axis=1).ravel()
        late = rng.random(n) < p.out_of_order
        ts = ts - late * rng.integers(1, p.ooo_max_s + 1, n)
    else:
        n = p.events
        ts = BASE_S + rng.uniform(0.0, p.span_s, n)
        file = np.arange(n, dtype=np.int64) * p.parts // n
    return Events(
        ts_ms=(ts * 1000).astype(np.int64),
        user=_users(rng, p, n),
        etype=rng.integers(0, EVENT_TYPES, n),
        value=rng.integers(0, VALUE_MAX, n),
        bad=rng.random(n) < p.malformed,
        file=file,
    )


# three ways a line fails to parse: truncated JSON, not JSON, and an
# eventTime that is not a number; each drops the whole line
def _bad_line(i: int, t: int, u: int) -> str:
    k = i % 3
    if k == 0:
        return f'{{"eventTime":{t},"t_user":"u{u}","value":'
    if k == 1:
        return f"#garbage line {i}"
    return f'{{"eventTime":"t{t}","t_user":"u{u}","value":1}}'


def render(ev: Events, idx: np.ndarray) -> str:
    """The JSON lines of the events at positions ``idx``, newline-ended."""
    out = []
    for i, t, u, e, v, b in zip(
        idx.tolist(), ev.ts_ms[idx].tolist(), ev.user[idx].tolist(),
        ev.etype[idx].tolist(), ev.value[idx].tolist(), ev.bad[idx].tolist(),
    ):
        if b:
            out.append(_bad_line(i, t, u))
        else:
            out.append(
                f'{{"eventTime":{t},"t_user":"u{u}","t_event_type":"e{e}","value":{v}}}'
            )
    return "\n".join(out) + "\n"


def file_texts(ev: Events) -> list[str]:
    """Rendered text of every input file, in file order."""
    nfiles = int(ev.file.max()) + 1 if len(ev) else 0
    bounds = np.searchsorted(ev.file, np.arange(nfiles + 1))
    return [render(ev, np.arange(bounds[k], bounds[k + 1])) for k in range(nfiles)]


def pusher(ev: Events) -> tuple[str, int]:
    """A line one event-hour past the last event. Its only tag matches no
    rule, but it moves the watermark past every open window, so they all
    close. Returns (line, event-time seconds)."""
    t_s = int(ev.ts_ms.max() // 1000) + 3600
    return f'{{"eventTime":{t_s * 1000},"t_pusher":"1"}}\n', t_s


def _writer(args: argparse.Namespace) -> None:
    p = PROFILES[args.workload]
    ev = generate(args.workload, args.seed, args.files)
    texts = file_texts(ev) + [pusher(ev)[0]]
    names = [f"part-{k:05d}.jsonl" for k in range(len(texts))]
    for name, text in zip(names, texts):
        with open(os.path.join(args.staging, name), "w") as fh:
            fh.write(text)
    print("ready", flush=True)
    t0 = float(sys.stdin.readline())
    files = []
    for k, name in enumerate(names):
        due = t0 + k * p.interval_s
        now = time.time()
        if due > now:
            time.sleep(due - now)
        src = os.path.join(args.staging, name)
        os.utime(src, (due, due))
        os.rename(src, os.path.join(args.watch, name))
        done = time.time()
        files.append({"due": due, "late_ms": (done - due) * 1000})
    with open(args.manifest, "w") as fh:
        json.dump(files, fh)


def main() -> None:
    ap = argparse.ArgumentParser(description="open-loop file writer")
    ap.add_argument("--workload", required=True, choices=sorted(PROFILES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--files", type=int, required=True)
    ap.add_argument("--staging", required=True)
    ap.add_argument("--watch", required=True)
    ap.add_argument("--manifest", required=True)
    _writer(ap.parse_args())


if __name__ == "__main__":
    main()
