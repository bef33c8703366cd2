"""Wire-format rule ingestion (P3/P4): the parser (Rule.from_wire via
parse_rule_lines) pinned against the reference's lenient fastjson
semantics (CEPTaskRunner.java:54-56, Rule.java:99-107), and the rule
table the live engine reads back from a RuleFileStore, which validates
each document with that same parser on write."""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import replace

import pytest

from flink_cep_task_spark.plans.cep_queries import WIRE_RULE_LINES
from flink_cep_task_spark.rules import (
    Rule,
    compact_rules,
    parse_rule_lines,
)
from flink_cep_task_spark.streaming.live import RuleFileStore, rules_from_store


def store_lines(spark, dirpath, lines: list[str]):
    """Write each wire line through RuleFileStore.upsert, as the rule
    socket bridge does, and read the stored rules back as the live
    engine's rule table. Returns (table, number of rejected lines)."""
    store = RuleFileStore(os.path.join(str(dirpath), f"rules_{uuid.uuid4().hex[:8]}.json"))
    rejected = 0
    for line in lines:
        try:
            store.upsert(json.loads(line))
        except ValueError:
            rejected += 1
    return rules_from_store(spark, store.path), rejected


def current_rules(accepted: list[Rule]) -> list[Rule]:
    """What a RuleFileStore holds after the accepted documents, in write
    order: the latest version per rule_id, with deleted rules gone."""
    latest: dict[int, Rule] = {}
    for r in accepted:
        latest[r.rule_id] = r
    return [r for r in latest.values() if r.rule_state != "DELETE"]


def test_python_parser_semantics():
    rules = parse_rule_lines(WIRE_RULE_LINES)
    by_id_seq = {(r.rule_id, r.seq): r for r in rules}
    # bad JSON, missing windowMinutes, bad operator symbol → dropped
    assert len(rules) == 5
    assert {r.rule_id for r in rules} == {21, 22, 23, 26}
    # bare-string groupingKeyNames → singleton list
    assert by_id_seq[(22, 2)].grouping_keys == ("t_event_type",)
    # symbolic operator preserved
    assert by_id_seq[(22, 2)].limit_op == "<="
    # unknown windowType ⇒ global (CEPEngine.java:75-81)
    assert by_id_seq[(23, 3)].window_type == "global"
    # explicit seq from the doc; limit normalized to the internal
    # DECIMAL(18,4) form of the rule table
    assert (21, 6) in by_id_seq and by_id_seq[(21, 6)].limit == "500.0000"
    # session is first-class on the wire (engine extension keyword)
    assert by_id_seq[(26, 7)].window_type == "session"
    assert by_id_seq[(26, 7)].window_minutes == 180
    # a doc with NO seq takes its line index (socket arrival order)
    no_seq = [json.dumps({"ruleId": 1, "windowType": "global"}),
              json.dumps({"ruleId": 2, "windowType": "global"})]
    assert {r.rule_id: r.seq for r in parse_rule_lines(no_seq)} == {1: 0, 2: 1}


def test_from_wire_defaults_and_delete():
    r = Rule.from_wire({"ruleId": 9})
    assert r.window_type == "global" and r.grouping_keys == ()
    assert r.agg_type == "SUM" and r.limit_op == ">"
    d = Rule.from_wire({"ruleId": 9, "ruleState": "DELETE"})
    assert d.rule_state == "DELETE"
    with pytest.raises(ValueError):
        Rule.from_wire({"ruleId": 9, "limitOperatorType": "~"})
    with pytest.raises(ValueError):
        Rule.from_wire({"ruleId": 9, "windowType": "tumbling"})  # no size
    # every rejection is a ValueError — the one error RuleFileStore.upsert
    # raises and parse_rule_lines drops on
    with pytest.raises(ValueError):
        Rule.from_wire({"windowType": "global"})  # no ruleId
    with pytest.raises(ValueError):
        Rule.from_wire({"ruleId": 9, "limit": float("nan")})
    assert parse_rule_lines(['{"ruleId": 9, "limit": NaN}']) == []


def test_store_table_agrees_with_parser(spark, tmp_path):
    """The stored rule table holds exactly the latest version per rule_id
    of the rules the parser accepts, field for field, with the store's
    own seq (write order)."""
    table, rejected = store_lines(spark, tmp_path, WIRE_RULE_LINES)
    assert rejected == 3  # bad JSON, missing windowMinutes, bad operator
    parsed = parse_rule_lines(WIRE_RULE_LINES)
    expect = current_rules([replace(r, seq=i + 1) for i, r in enumerate(parsed)])
    # rule 21 was upserted twice: only its second version is stored
    assert [(r.rule_id, r.limit) for r in expect if r.rule_id == 21] == [(21, "500.0000")]
    expect.sort(key=lambda r: r.seq)
    got = [
        Rule(**{**row.asDict(), "grouping_keys": tuple(row.grouping_keys),
                "limit": str(row.limit)})
        for row in table.orderBy("seq").collect()
    ]
    assert got == expect


def test_store_table_compaction(spark, tmp_path):
    lines = WIRE_RULE_LINES + ['{"ruleId": 22, "ruleState": "DELETE", "seq": 8}']
    table, _ = store_lines(spark, tmp_path, lines)
    compacted = compact_rules(table).collect()
    assert {r.rule_id for r in compacted} == {21, 23, 26}
    lim = {r.rule_id: float(r.limit) for r in compacted}
    assert lim[21] == 500.0  # the later upsert won


def test_session_is_first_class_on_the_wire(spark, tmp_path):
    """'session' (this engine's extension keyword, never emitted by the
    reference) parses as a session rule, in the parser and in the stored
    rule table; a session doc missing windowMinutes is invalid and drops;
    truly-unknown window types still coerce to global
    (CEPEngine.java:75-81)."""
    lines = [
        '{"ruleId": 1, "windowType": "session", "windowMinutes": 3,'
        ' "groupingKeyNames": ["t_g"], "aggregatorFunctionType": "SUM",'
        ' "aggregateFieldName": "m", "limitOperatorType": ">", "limit": 0}',
        '{"ruleId": 2, "windowType": "session",'
        ' "aggregatorFunctionType": "SUM"}',          # no gap → dropped
        '{"ruleId": 3, "windowType": "lifetime",'
        ' "aggregatorFunctionType": "MAX", "aggregateFieldName": "m",'
        ' "limitOperatorType": ">=", "limit": 1}',    # unknown → global
    ]
    py = {r.rule_id: r for r in parse_rule_lines(lines)}
    assert py[1].window_type == "session" and py[1].window_minutes == 3
    assert 2 not in py
    assert py[3].window_type == "global"

    table, rejected = store_lines(spark, tmp_path, lines)
    stored = {r["rule_id"]: r for r in table.collect()}
    assert rejected == 1
    assert stored[1]["window_type"] == "session" and stored[1]["window_minutes"] == 3
    assert 2 not in stored
    assert stored[3]["window_type"] == "global"


