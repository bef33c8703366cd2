"""Rule-match fan-out: metric × active-rule broadcast join (B3) + group id (B4).

Reference semantics: PartitionEngine.processElement iterates every broadcast
rule per metric and emits one rule-stamped copy per hit, where a hit means
the rule is ACTIVE and the metric's tag keys ⊇ the rule's groupingKeyNames
(PartitionEngine.java:36-51, Rule.java:63-66). The group id is
``ruleId_tagV1_tagV2…`` (PartitionEngine.java:72-81).

Spark-first: the per-event rule loop becomes a broadcast nested-loop join
with the containment predicate — the rule table is tiny (KBs) and is
replicated to every executor exactly like Flink broadcast state, so the
fan-out costs no shuffle. Row fan-out via join is also naturally safe
against the reference's object-reuse bug (Q8): each joined row is
independent.

Scale note: output rows = Σ_rules |matching events| — identical blow-up to
the reference. The downstream groupBy shuffles on (rule_id, group_id,
window), which is well-distributed unless one group dominates; AQE skew
handling is on by default (session.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def fanout_rules(metrics: DataFrame, rules: DataFrame) -> DataFrame:
    """Fan each metric row out to every ACTIVE rule whose grouping keys are
    all present in the row's tags; stamp rule columns, group_id and the
    aggregate input value.

    metrics: (event_time, tags MAP, metrics MAP)  [METRIC_SCHEMA]
    rules:   internal rule table (RULE_SCHEMA), one version per rule_id
             (compacted, or the live store's current rules); PAUSE rules
             are excluded here (Rule.java:65 — only ACTIVE rules match).
    """
    r = rules.filter(F.col("rule_state") == "ACTIVE").select(
        "rule_id",
        "window_type",
        "window_minutes",
        "window_slide_minutes",
        "grouping_keys",
        "agg_type",
        "agg_field",
        "limit_op",
        "limit",
    )
    # tag-containment: every grouping key exists in this row's tags
    # (Rule.java:63-66), expressed WITHOUT a higher-order-function lambda:
    # a lambda inside a broadcast-join condition hits a Spark binding bug
    # (the predicate gets bound against the build side alone and fails with
    # INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND on local-relation inputs in fresh
    # sessions). set-difference form is equivalent — keys ⊆ tag-keys ⟺
    # array_except(keys, tag_keys) is empty — plain Catalyst expressions,
    # whole-stage codegen, no UDF.
    contains = F.size(F.array_except(F.col("grouping_keys"), F.map_keys(F.col("tags")))) == 0
    fanned = metrics.join(F.broadcast(r), on=contains, how="inner")
    # group id `ruleId_v1_v2…` (PartitionEngine.java:72-81). Tag values are
    # non-null post-containment-filter. A rule with NO grouping keys gets
    # the bare ruleId (the reference's StringBuilder never appends), not a
    # trailing underscore — kept in lockstep with oracle.py.
    group_id = F.when(
        F.size("grouping_keys") == 0, F.col("rule_id").cast("string")
    ).otherwise(
        F.concat_ws(
            "_",
            F.col("rule_id").cast("string"),
            F.array_join(
                F.transform(F.col("grouping_keys"), lambda k: F.element_at(F.col("tags"), k)),
                "_",
            ),
        )
    )
    # the measure this rule aggregates; missing measure → null, which SQL
    # aggregation ignores (deliberate fix of reference quirk Q1 where a
    # missing field contributed ZERO, Window.java:99-108).
    agg_input = F.element_at(F.col("metrics"), F.col("agg_field"))
    return fanned.select(
        "event_time",
        "rule_id",
        group_id.alias("group_id"),
        "window_type",
        "window_minutes",
        "window_slide_minutes",
        "agg_type",
        "limit_op",
        "limit",
        agg_input.alias("agg_input"),
    )
