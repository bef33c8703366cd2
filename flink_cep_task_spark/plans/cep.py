"""End-to-end CEP rule evaluation plans (SURVEY.md §3.3 Spark replacement).

The whole reference data path —

  parse → rule match fan-out → keyBy(groupId) → window assign → fold →
  trigger fire → threshold → emit
  (CEPTaskRunner.java:31-50, PartitionEngine.java, CEPEngine.java,
   Window.java, TriggerCenter.java)

— collapses to one declarative DataFrame plan:

  metrics × broadcast(active rules) → group_id → explode(window starts)
  → groupBy(rule_id, group_id, window).agg → HAVING filter → enriched rows

evaluated here in batch; streaming/pipeline.py runs the same plan inside
Structured Streaming with watermarks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_cep_task_spark.operators.fanout import fanout_rules
from flink_cep_task_spark.operators.windows import evaluate_windows
from flink_cep_task_spark.rules import (
    Rule,
    compact_rule_list,
    rules_df,
)
from flink_cep_task_spark.sources.tables import (
    events_to_metrics,
    load_table,
    widen_small_scan,
)


def evaluate_rules(spark: SparkSession, metrics: DataFrame, rules: list[Rule]) -> DataFrame:
    """Evaluate a rule changelog against schemaless Metric rows.

    Single-pass multi-rule evaluation: ALL rules (any mix of window types,
    aggregates, grouping keys) run in one plan — one broadcast join, one
    explode, one shuffle/aggregation — rather than a per-rule driver loop.

    Session-window rules (engine extension, rules.Rule window_type
    "session") take a second branch over the same fan-out: Spark's
    session-merge aggregation needs its own exec, so the plan unions the
    epoch-arithmetic branch with a `session_window` branch. The branch is
    added ONLY when the compacted changelog actually contains a session
    rule — the rule list is query configuration (driver-side, not data), so
    inspecting it costs nothing and every session-free plan stays
    byte-identical to before.
    """
    active = compact_rule_list(rules)
    fanned = fanout_rules(metrics, rules_df(spark, active))
    has_session = any(r.window_type == "session" for r in active)
    if not has_session:
        return evaluate_windows(fanned)
    from flink_cep_task_spark.operators.windows import evaluate_session_windows

    sess = evaluate_session_windows(fanned.filter(F.col("window_type") == "session"))
    rest_rules = [r for r in active if r.window_type != "session"]
    if not rest_rules:
        return sess
    rest = evaluate_windows(fanned.filter(F.col("window_type") != "session"))
    return rest.unionByName(sess)


def evaluate_rules_on_events(spark: SparkSession, sf_dir: str, rules: list[Rule]) -> DataFrame:
    """Rule evaluation over the driver's typed `events` table. The scan is
    widened below the metric projection so the fan-out join and partial
    aggregation parallelize even off a single-row-group file."""
    metrics = events_to_metrics(widen_small_scan(load_table(spark, sf_dir, "events")))
    return evaluate_rules(spark, metrics, rules)
