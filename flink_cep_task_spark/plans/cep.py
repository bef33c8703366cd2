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
from flink_cep_task_spark.operators.windows import (
    evaluate_windows,
    fold_sessions,
    gate_windows,
)
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
    "session") take a second branch over the same fan-out: the streaming
    paths' session fold (operators.windows.fold_sessions) over
    second-truncated event times, gated against the broadcast rule
    config. It is added ONLY when the compacted changelog contains a
    session rule, so every session-free plan stays byte-identical to
    before.
    """
    active = compact_rule_list(rules)
    table = rules_df(spark, active)
    fanned = fanout_rules(metrics, table)
    if not any(r.window_type == "session" for r in active):
        return evaluate_windows(fanned)
    config = F.broadcast(table.select("rule_id", "agg_type", "limit_op", "limit"))
    sess = gate_windows(fold_sessions(
        fanned.withColumn("event_time", F.date_trunc("second", "event_time"))
    ).join(config, "rule_id"))
    if all(r.window_type == "session" for r in active):
        return sess
    rest = evaluate_windows(fanned.filter(F.col("window_type") != "session"))
    return rest.unionByName(sess)


def evaluate_rules_on_events(spark: SparkSession, sf_dir: str, rules: list[Rule]) -> DataFrame:
    """Rule evaluation over the driver's typed `events` table. The scan is
    widened below the metric projection so the fan-out join and partial
    aggregation parallelize even off a single-row-group file."""
    metrics = events_to_metrics(widen_small_scan(load_table(spark, sf_dir, "events")))
    return evaluate_rules(spark, metrics, rules)
