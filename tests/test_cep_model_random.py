"""Randomized model check for the CEP engine: a seeded random rule set
(all window types, key sets, aggregates, comparators, slide>size gaps,
missing measures, PAUSE/DELETE changelog entries) over seeded random
schemaless metrics, compared row-for-row against an independent pure-
Python evaluator written straight from the reference semantics
(PartitionEngine.java isHit/getGroupId + the engine's documented epoch
window arithmetic + gap-based session islands + SQL aggregate semantics
+ round_half_up).

This is a THIRD implementation (beyond the Spark plan and the generated
DuckDB oracles) exercising rule/tag/window combinations the fixture rule
sets never hit — random subsets of tags present per event, random window
size/slide ratios, equality thresholds on rounded aggregates."""

from __future__ import annotations

import datetime as dt
import math
import random
from decimal import Decimal

import pytest

from flink_cep_task_spark.plans.cep import evaluate_rules
from flink_cep_task_spark.rules import Rule
from flink_cep_task_spark.schemas import METRIC_SCHEMA



def _model(events, rules):
    """Pure-Python mirror of evaluate_rules (epoch-aligned batch mode)."""
    # changelog compaction: last seq wins, only ACTIVE survives
    latest = {}
    for r in sorted(rules, key=lambda r: r.seq):
        latest[r.rule_id] = r
    active = [r for r in latest.values() if r.rule_state == "ACTIVE"]

    cells: dict[tuple, list] = {}
    sessions: dict[tuple, list] = {}  # (rule, group_id) → [(ts, value)]
    for ts_s, tags, measures in events:
        for r in active:
            if not set(r.grouping_keys) <= set(tags):
                continue
            if r.grouping_keys:
                gid = f"{r.rule_id}_" + "_".join(tags[k] for k in r.grouping_keys)
            else:
                gid = str(r.rule_id)
            v = measures.get(r.agg_field)  # None ⇒ null input (ignored)
            if r.window_type == "session":
                sessions.setdefault((r, gid), []).append((ts_s, v))
                continue
            size = (r.window_minutes or 0) * 60
            if r.window_type == "tumbling":
                starts = [ts_s // size * size]
            elif r.window_type == "sliding":
                slide = (r.window_slide_minutes or r.window_minutes) * 60
                first = ((ts_s - size) // slide + 1) * slide
                last = ts_s // slide * slide
                starts = list(range(first, last + 1, slide)) if first <= last else []
            else:  # global
                starts = [None]
            for ws in starts:
                we = None if ws is None else ws + size
                cells.setdefault(
                    (r.rule_id, gid, ws, we, r.agg_type, r.limit_op, r.limit), []
                ).append(v)

    # sessions: islands of the group's times, broken where the spacing
    # exceeds the gap, with bounds [min, max + gap); a row with a null
    # measure still shapes its island
    for (r, gid), points in sessions.items():
        gap = r.window_minutes * 60
        points.sort(key=lambda p: p[0])
        islands = [[points[0]]]
        for p in points[1:]:
            if p[0] - islands[-1][-1][0] > gap:
                islands.append([])
            islands[-1].append(p)
        for isl in islands:
            cells[(r.rule_id, gid, isl[0][0], isl[-1][0] + gap,
                   r.agg_type, r.limit_op, r.limit)] = [v for _, v in isl]

    out = set()
    for (rid, gid, ws, we, agg, op, limit), vals in cells.items():
        nn = [int(v) for v in vals if v is not None]
        if not nn:
            continue  # all-null inputs: SQL aggregates yield NULL, gate drops
        if agg == "SUM":
            x = float(sum(nn))
        elif agg == "AVG":
            x = float(sum(nn)) / len(nn)  # divisor = COUNT(agg_input), non-null
        elif agg == "MIN":
            x = float(min(nn))
        else:
            x = float(max(nn))
        lim = float(Decimal(limit))
        passed = {
            "=": x == lim, "!=": x != lim, ">": x > lim,
            ">=": x >= lim, "<": x < lim, "<=": x <= lim,
        }[op]
        if passed:
            rounded = math.floor(x * 10000.0 + 0.5) / 10000.0
            out.add((rid, gid, ws, we, agg, rounded))
    return out


@pytest.mark.parametrize("seed", [20260814, 7, 9001])
def test_random_rules_match_python_model(spark, seed):
    rng = random.Random(seed)
    tagsets = {"t_a": ["a1", "a2", "a3"], "t_b": ["b1", "b2"]}
    fields = ["m1", "m2"]

    events = []
    for i in range(400):
        # spans the epoch: negative timestamps pin the FLOOR bucketing
        # convention through the whole engine (python // floors; Spark
        # F.floor floors; a cast-truncation or DuckDB-`//` regression on
        # either side shifts every pre-1970 window start — round-6 fix)
        ts_s = rng.randint(-7200, 7200)
        tags = {
            k: rng.choice(vs) for k, vs in tagsets.items() if rng.random() < 0.8
        }
        measures = {f: rng.randint(0, 100) for f in fields if rng.random() < 0.85}
        events.append((ts_s, tags, measures))

    rules = []
    for rid in range(1, 14):
        # rules 11-13 are sessions, drawn after the others so that rules
        # 1-10 keep their draws
        wt = rng.choice(["tumbling", "sliding", "global"]) if rid <= 10 else "session"
        wm = rng.randint(1, 5)
        slide = rng.randint(1, 7) if wt == "sliding" else None
        keys = tuple(k for k in tagsets if rng.random() < 0.6)
        agg = rng.choice(["SUM", "AVG", "MIN", "MAX"])
        fieldname = rng.choice(fields + ["m_absent"])
        op = rng.choice(["=", "!=", ">", ">=", "<", "<="])
        limit = str(rng.randint(0, 300))
        rules.append(
            Rule(
                rule_id=rid,
                window_type=wt,
                window_minutes=wm if wt != "global" else None,
                window_slide_minutes=slide,
                grouping_keys=keys,
                agg_type=agg,
                agg_field=fieldname,
                limit_op=op,
                limit=limit,
                seq=rid,
            )
        )
    # changelog noise: one rule paused, one deleted, one re-activated later
    rules.append(Rule(rule_id=3, rule_state="PAUSE", window_type="tumbling",
                      window_minutes=2, agg_type="SUM", agg_field="m1",
                      limit_op=">", limit="0", seq=100))
    rules.append(Rule(rule_id=5, rule_state="DELETE", seq=101))
    rules.append(Rule(rule_id=5, window_type="tumbling", window_minutes=1,
                      grouping_keys=("t_a",), agg_type="MAX", agg_field="m2",
                      limit_op="<=", limit="90", seq=102))

    rows = [
        (
            dt.datetime.utcfromtimestamp(ts_s),
            tags,
            {k: Decimal(v) for k, v in measures.items()},
        )
        for ts_s, tags, measures in events
    ]
    metrics = spark.createDataFrame(rows, METRIC_SCHEMA)

    got = {
        (r.rule_id, r.group_id, r.window_start, r.window_end, r.agg_type, r.agg_value)
        for r in evaluate_rules(spark, metrics, rules).collect()
    }
    expected = _model(events, rules)

    missing = expected - got
    extra = got - expected
    assert not missing and not extra, (
        f"model divergence — missing from engine: {sorted(missing)[:5]}; "
        f"extra from engine: {sorted(extra)[:5]}"
    )
    assert len(expected) > 50, f"degenerate scenario: only {len(expected)} rows"
