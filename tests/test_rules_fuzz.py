"""Hypothesis fuzz of the rule WIRE parser (VERDICT r5 task #7),
mirroring tests/test_jsonline_fuzz.py for the rule channel. Rules are
parsed by ONE parser, Rule.from_wire (via rules.parse_rule_lines), and
validated once, when they enter the live engine's RuleFileStore; the
plan then reads the stored canonical documents back as typed data
(streaming.live.rules_from_store). The two sides pinned here are that
parse and the stored table: arbitrary byte soup must never crash the
parser, the store must reject exactly the documents the parser drops,
and the table read back must hold the current version of each accepted
rule with the SAME fields.
The fuzz domain covers the reference's wire vocabulary
(Rule.java:12-24): the symbolic operator set (Rule.java:99-107),
unknown-windowType coercion to global (CEPEngine.java:75-81),
array-or-bare-scalar groupingKeyNames, lifecycle states, and
type-malformed values (float window minutes, string limits, container
keys) that a fastjson parse would fail the whole document on.
Canonical wire documents (Rule.to_wire) round-trip through the parser.
"""

from __future__ import annotations

import json
from dataclasses import replace
from decimal import Decimal

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from flink_cep_task_spark.rules import (
    LIMIT_OP_NAMES,
    Rule,
    compact_rule_list,
    compact_rules,
    parse_rule_lines,
)
from flink_cep_task_spark.schemas import AGG_TYPES, LIMIT_OPS, RULE_STATES
from flink_cep_task_spark.streaming.live import RuleFileStore, rules_from_store
from tests.test_rules_wire import current_rules, store_lines

_ascii = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=8
)
_rule_id = st.one_of(
    st.integers(min_value=-5, max_value=40),
    st.integers(min_value=2**31 - 2, max_value=2**31 + 2),  # int32 edge
    st.booleans(),
    _ascii,
    st.none(),
)
_state = st.one_of(st.sampled_from(sorted(RULE_STATES)), _ascii, st.none())
_wtype = st.one_of(
    st.sampled_from(["tumbling", "sliding", "session", "global", "lifetime"]),
    _ascii,
    st.integers(min_value=0, max_value=9),
    st.none(),
)
_minutes = st.one_of(
    st.integers(min_value=-10, max_value=10_000),
    st.integers(min_value=2**31 - 2, max_value=2**31 + 2),
    st.floats(min_value=-100, max_value=100, allow_nan=False),
    st.booleans(),
    st.none(),
)
# gk elements: scalars + one nested container (kept as its compact JSON
# text)
_gk_elem = st.one_of(
    st.sampled_from(["t_user", "t_event_type", "t_g", ""]),
    st.integers(min_value=0, max_value=99),
    st.booleans(),
    st.just(["nested"]),
)
_gk = st.one_of(
    st.lists(_gk_elem, max_size=3),
    st.sampled_from(["t_user", "t_g"]),
    st.integers(min_value=0, max_value=9),
    st.dictionaries(st.sampled_from(["a", "b"]), st.integers(0, 3), max_size=2),
    st.none(),
)
_agg = st.one_of(st.sampled_from(sorted(AGG_TYPES)), _ascii, st.none())
_op = st.one_of(
    st.sampled_from(sorted(LIMIT_OPS)),
    st.sampled_from(sorted(LIMIT_OP_NAMES)),  # reference enum names
    st.sampled_from(["~", "greater", "=>", "<>", ""]),
    st.integers(min_value=0, max_value=9),
    st.none(),
)
_limit = st.one_of(
    st.integers(min_value=-(10**15), max_value=10**15),
    st.floats(min_value=-1e16, max_value=1e16, allow_nan=False),
    st.from_regex(r"-?[0-9]{1,6}\.[0-9]{1,4}", fullmatch=True),
    _ascii,
    st.booleans(),
    st.none(),
)

_doc = st.fixed_dictionaries(
    {"seq": st.integers(min_value=0, max_value=100)},
    optional={
        "ruleId": _rule_id,
        "ruleState": _state,
        "windowType": _wtype,
        "windowMinutes": _minutes,
        "windowSlideMinute": _minutes,
        "groupingKeyNames": _gk,
        "aggregatorFunctionType": _agg,
        "aggregateFieldName": st.one_of(_ascii, st.integers(0, 9), st.none()),
        "limitOperatorType": _op,
        "limit": _limit,
    },
)
_garbage = st.one_of(
    st.text(max_size=30),
    st.sampled_from(["5", "[1,2]", '"hello"', "null", "{}", "{", ""]),
)
_line = st.one_of(_doc.map(json.dumps), _garbage)


def _norm(r) -> tuple:
    """Comparable normal form of a parsed Rule or a stored rule-table row."""
    return (
        r.rule_id,
        r.rule_state,
        r.window_type,
        r.window_minutes,
        r.window_slide_minutes,
        tuple(r.grouping_keys),
        r.agg_type,
        r.agg_field,
        r.limit_op,
        Decimal(str(r.limit)),
        r.seq,
    )


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(lines=st.lists(_line, min_size=1, max_size=10))
def test_wire_parser_twins_agree_and_never_crash(spark, tmp_path_factory, lines):
    """The parser never crashes; the store rejects a line exactly when
    the parser drops it; the stored table equals the latest non-deleted
    version per rule_id of the accepted documents (re-sequenced in write
    order), and its compaction the compacted changelog."""
    parse_rule_lines(lines)
    store = RuleFileStore(str(tmp_path_factory.mktemp("fuzz") / "rules.json"))
    accepted = []
    for line in lines:
        parsed = parse_rule_lines([line])
        try:
            store.upsert(json.loads(line))
        except ValueError:
            assert not parsed, line
            continue
        assert parsed, line
        accepted.append(replace(parsed[0], seq=len(accepted) + 1))
    table = rules_from_store(spark, store.path)
    assert sorted(map(_norm, table.collect())) == sorted(map(_norm, current_rules(accepted)))
    got = compact_rules(table).filter("rule_state = 'ACTIVE'").collect()
    assert sorted(map(_norm, got)) == sorted(map(_norm, compact_rule_list(accepted)))


_op_seq = st.lists(
    st.one_of(
        st.tuples(
            st.just("upsert"),
            st.integers(min_value=0, max_value=3),
            st.sampled_from(sorted(RULE_STATES)),
            st.integers(min_value=-2, max_value=2),
        ),
        st.tuples(st.just("delete"), st.integers(min_value=0, max_value=3)),
    ),
    min_size=1,
    max_size=12,
)


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(ops=_op_seq)
def test_store_holds_compacted_changelog(spark, tmp_path_factory, ops):
    """Any sequence of upserts (ACTIVE/PAUSE/DELETE) and deletes over a
    few rule ids leaves the store's ACTIVE rules equal to the compaction
    of the changelog written to it."""
    store = RuleFileStore(str(tmp_path_factory.mktemp("ops") / "rules.json"))
    accepted = []
    for op in ops:
        if op[0] == "delete":
            store.delete(op[1])
            accepted.append(Rule(rule_id=op[1], rule_state="DELETE"))
        else:
            _, rid, state, lim = op
            doc = {"ruleId": rid, "ruleState": state, "windowType": "tumbling",
                   "windowMinutes": 1 + rid, "limit": lim}
            store.upsert(doc)
            accepted.append(Rule.from_wire(doc))
    accepted = [replace(r, seq=i + 1) for i, r in enumerate(accepted)]
    got = rules_from_store(spark, store.path).filter("rule_state = 'ACTIVE'").collect()
    assert sorted(map(_norm, got)) == sorted(map(_norm, compact_rule_list(accepted)))


@settings(max_examples=200, deadline=None)
@given(doc=_doc)
def test_to_wire_round_trips(doc):
    """Rule.from_wire(r.to_wire()) == r for every rule the parser builds,
    also through the JSON text the store writes."""
    for r in parse_rule_lines([json.dumps(doc)]):
        assert Rule.from_wire(r.to_wire()) == r
        assert Rule.from_wire(json.loads(json.dumps(r.to_wire()))) == r


def test_symbol_operator_matrix_both_twins(spark, tmp_path):
    """Every symbolic operator (Rule.java:99-107) parses, in the parser
    and in the stored rule table; reference enum NAMES (the wire form
    fastjson actually accepts — resources/rules:1 says GREATER)
    normalize to symbols; unknown operators drop the rule in both."""
    ok = sorted(LIMIT_OPS)
    names = sorted(LIMIT_OP_NAMES)  # enum-name forms normalize to symbols
    bad = ["~", "greater", "=>", ""]
    lines = [
        json.dumps(
            {"ruleId": i, "windowType": "tumbling", "windowMinutes": 5,
             "limitOperatorType": op, "seq": i}
        )
        for i, op in enumerate(ok + names + bad)
    ]
    expect = {i: op for i, op in enumerate(ok)}
    expect.update({len(ok) + j: LIMIT_OP_NAMES[n] for j, n in enumerate(names)})
    py = {r.rule_id: r.limit_op for r in parse_rule_lines(lines)}
    table, _ = store_lines(spark, tmp_path, lines)
    stored = {r.rule_id: r.limit_op for r in table.collect()}
    assert py == stored == expect


def test_unknown_window_type_coerces_to_global_both_twins(spark, tmp_path):
    """Truly-unknown windowType strings coerce to global (CEPEngine.java:
    75-81), in the parser and in the stored rule table; the three named
    types plus the session extension stay themselves."""
    cases = ["tumbling", "sliding", "session", "global", "lifetime", "TUMBLING", "x"]
    lines = [
        json.dumps(
            {"ruleId": i, "windowType": wt, "windowMinutes": 5,
             "windowSlideMinute": 1, "seq": i}
        )
        for i, wt in enumerate(cases)
    ]
    expect = {
        0: "tumbling", 1: "sliding", 2: "session",
        3: "global", 4: "global", 5: "global", 6: "global",
    }
    py = {r.rule_id: r.window_type for r in parse_rule_lines(lines)}
    table, _ = store_lines(spark, tmp_path, lines)
    stored = {r.rule_id: r.window_type for r in table.collect()}
    assert py == stored == expect
