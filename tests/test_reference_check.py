"""End-to-end replay of the reference's bundled sample workload
(resources/metrics:1-6 + resources/rules:1) through the live engine —
the `--check` mode of scripts/run_reference_topology.py, run hermetically
(VERDICT r5 task #8). This is the one workload the reference itself
documents, wire quirks included: bare-string groupingKeyNames, the
enum-name operator "GREATER", and the capital-L "LimitOperatorType" key.
"""

from __future__ import annotations

import importlib.util
import os


def _load_topology_module():
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts",
        "run_reference_topology.py",
    )
    spec = importlib.util.spec_from_file_location("ref_topology", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_reference_sample_workload_end_to_end(spark):
    mod = _load_topology_module()
    got = mod.run_reference_check(spark)
    # SUM(cpu_usage) per t_group over the single 2-minute window the
    # sample's 5-second span covers: business 9+2+5, work 1+5+10 — both
    # past the GREATER-11 limit, nothing else emitted
    assert got == mod.REF_EXPECTED == {("1_business", 16.0), ("1_work", 16.0)}


def test_reference_rule_line_parses_in_both_twins(spark, tmp_path):
    """The sample rule's wire quirks parse identically in the parser and
    in the rule table the live engine reads back from its store: t_group
    key, SUM cpu_usage, '>' 11, 2-minute tumbling."""
    from flink_cep_task_spark.rules import parse_rule_lines
    from tests.test_rules_wire import store_lines

    mod = _load_topology_module()
    [py] = parse_rule_lines([mod.REF_RULE_LINE])
    table, _ = store_lines(spark, tmp_path, [mod.REF_RULE_LINE])
    [stored] = table.collect()
    for r in (py, stored):
        assert r.rule_id == 1
        assert r.window_type == "tumbling" and r.window_minutes == 2
        assert tuple(r.grouping_keys) == ("t_group",)
        assert r.agg_type == "SUM" and r.agg_field == "cpu_usage"
        assert r.limit_op == ">"
        assert float(r.limit) == 11.0
