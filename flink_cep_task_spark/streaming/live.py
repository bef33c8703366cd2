"""LIVE rule stream: rule CRUD takes effect mid-run, in the SAME streaming
query — the reference's defining feature (second socket → broadcast state →
processBroadcastElement upsert, CEPTaskRunner.java:37-45,
PartitionEngine.java:54-63).

Spark has no broadcast-*stream* primitive, so the rule channel is modeled
as a **mutable rule table at a fixed file path** joined stream-static into
the metric stream. Two measured facts about Spark's stream-static join make
this correct (probed, not assumed):

  1. the static side's file CONTENT is re-read on every micro-batch
     (the physical plan re-executes; nothing caches row data), but
  2. the file LISTING is captured once at plan time — new files are
     invisible, and lines that START beyond a file's original byte length
     are dropped by the line reader.

Hence the store keeps the CURRENT rules — the latest validated version
of each rule, ACTIVE or PAUSE, keyed by rule_id; a DELETE removes the
rule — as ONE JSON array on ONE line of ONE file, atomically replaced on
every upsert/delete: the line reader always consumes line 1 to its true
end, so growth is safe, and the file grows with the number of rules,
not the number of changes. Each document is validated ONCE, when it
enters the store (Rule.from_wire — the engine's only wire parser; a bad
document raises and is never written), and stored in canonical wire
form, so the plan's side is a plain typed read (rules_from_store, then a
rule_state = 'ACTIVE' filter — no per-batch compaction, no shuffle) that
re-resolves the ACTIVE rule set every micro-batch with no aliasing,
coercion or validation. A rule change therefore takes effect at the next
trigger — the Spark-idiomatic equivalent of Flink's broadcast state
upsert, and strictly better than the reference's quirk Q6 (rules
captured per group at first sight, never invalidated,
CEPEngine.java:55-64).

Windowing: rules are data, so window sizes are COLUMNS — the built-in
`F.window()` (literal durations) cannot express them. Windows are
assigned as data by the batch engine's own arithmetic
(operators.windows.assign_windows), and ONE native streaming aggregation
(operators.windows.fold_windows) keeps per-(rule, group, window) partial
aggregates (sum/cnt/min/max: O(1) state per window, never raw rows) in
Spark's state store and closes a window exactly when the event-time
watermark passes its end (the principled fix of the reference's
wall-clock Trigger, Q4; a data-driven fire would double-emit under
in-watermark reordering). The state holds no rule config: every closed
window's partials pass one stream-static join against the rule table of
the closing micro-batch, which picks the aggregate, applies the threshold
and rounds (operators.windows.gate_windows). A window is emitted only if
its rule's current version is ACTIVE and still defines a window of that
shape, so a delete, pause, re-limit, re-aggregate or resize applies to
every window that closes after it — also one that only the watermark
closes. Spark filters late rows ahead of the fold and counts them
(numRowsDroppedByWatermark): a row is dropped when its window's end is
not past the PREVIOUS batch's watermark, so a row up to one batch late
still counts, as in the batch oracle, and no window fires twice.

One stream builder, cep_streams, serves every streaming surface, which
differ only in the rule table they pass (the store read here, a static
table in streaming/pipeline.build_streaming_cep).

Scale: state is hash-partitioned by (rule, group, window) on the JVM
state store, one row per open window; the rule table is KBs and
broadcast (once to the fan-out, once to the gate).
No driver-side loops.
"""

from __future__ import annotations

import json
import os
import tempfile
from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from flink_cep_task_spark.operators.fanout import fanout_rules
from flink_cep_task_spark.operators.windows import (
    fold_sessions,
    fold_windows,
    gate_windows,
    partial_aggs,
)
from flink_cep_task_spark.rules import WIRE_NAMES, Rule
from flink_cep_task_spark.schemas import RULE_SCHEMA

SECONDS_PER_MINUTE = 60
DEFAULT_WATERMARK = "10 minutes"
# the live engine's output rows (gate_windows), as its sinks read them back
LIVE_OUTPUT_SCHEMA = (
    "rule_id INT, group_id STRING, window_start LONG, window_end LONG, "
    "agg_type STRING, agg_value DOUBLE"
)


class RuleFileStore:
    """The current rule table as one single-line JSON-array file,
    atomically replaced on every change — the live engine's control
    channel.

    Holds the latest version of each rule (ACTIVE or PAUSE), keyed by
    rule_id: an upsert replaces the rule's entry, a DELETE (delete(), or
    an upserted ruleState DELETE) removes it (PartitionEngine.java:54-63
    BroadcastState put/remove). Validates on write: every document goes
    through Rule.from_wire, and one that fails raises ValueError and is
    not stored. Entries are the canonical wire documents (Rule.to_wire)
    with the store's own write counter as `seq` in place of any the
    document carried — last writer wins in write order (the reference
    relies on socket arrival order)."""

    def __init__(self, path: str):
        self.path = path
        self._rules: dict[int, dict] = {}
        self._seq = 0
        self._flush()

    def upsert(self, doc: dict) -> None:
        """Add/replace a rule (ruleState ACTIVE/PAUSE) by ruleId; a
        ruleState DELETE document removes it."""
        rule = replace(Rule.from_wire(doc), seq=self._seq + 1)
        self._seq = rule.seq
        if rule.rule_state == "DELETE":
            self._rules.pop(rule.rule_id, None)
        else:
            self._rules[rule.rule_id] = rule.to_wire()
        self._flush()

    def delete(self, rule_id: int) -> None:
        """Remove a rule (PartitionEngine.java:60-61 state.remove)."""
        self.upsert({"ruleId": rule_id, "ruleState": "DELETE"})

    def _flush(self) -> None:
        # atomic single-line replace: readers see either the old or the new
        # complete rule table, never a torn write.
        d = os.path.dirname(self.path) or "."
        fd, tmp = tempfile.mkstemp(dir=d, prefix=".rules-")
        with os.fdopen(fd, "w") as f:
            f.write(json.dumps(list(self._rules.values())))
        os.replace(tmp, self.path)


# the store's documents as written by Rule.to_wire, typed like RULE_SCHEMA
# except the limit, which the wire carries as its exact decimal string
_STORED_RULES = ArrayType(
    StructType([
        StructField(WIRE_NAMES[f.name], StringType() if f.name == "limit" else f.dataType)
        for f in RULE_SCHEMA.fields
    ])
)


def rules_from_store(spark: SparkSession, path: str) -> DataFrame:
    """Static-side rule table: the store's current rules (one row per
    rule_id, ACTIVE or PAUSE) — the single-line JSON array of validated
    wire docs, read with one typed from_json, exploded and renamed to
    RULE_SCHEMA. Re-executed (and the file re-READ) every micro-batch
    when joined against a stream."""
    docs = spark.read.text(path).select(
        F.explode(F.from_json(F.col("value"), _STORED_RULES)).alias("r")
    )
    # the cast is a no-op for every column but the limit string
    return docs.select(*[
        F.col("r")[WIRE_NAMES[f.name]].cast(f.dataType).alias(f.name)
        for f in RULE_SCHEMA.fields
    ])


def fanout_live(metrics: DataFrame, rules: DataFrame, watermark: str) -> DataFrame:
    """The streaming folds' input: Metric rows second-truncated,
    watermarked on event_time and fanned out to `rules` (fanout_rules).
    The engine's time domain is EPOCH SECONDS (TS_S in every batch
    oracle). Boundary-aligned tumbling/sliding assignment is indifferent
    to sub-second precision, but SESSION merge distances are not: two
    events 120.9 s apart must merge under a 2-minute gap exactly like the
    batch engine's second-truncated islands. So truncation comes before
    the watermark, and every downstream stateful op lives in the same
    domain."""
    wm = metrics.withColumn(
        "event_time", F.date_trunc("second", F.col("event_time"))
    ).withWatermark("event_time", watermark)
    return fanout_rules(wm, rules)


def cep_streams(
    metrics: DataFrame, rules: DataFrame, watermark: str
) -> tuple[DataFrame, DataFrame]:
    """(windowed, global) CEP streams of a Metric stream against a rule
    table (RULE_SCHEMA, one row per rule_id), rows in gate_windows'
    schema. Fan-out and gate read `rules` in the same plan, so over the
    store (rules_from_store) both follow every change at the next
    micro-batch.

    windowed (append mode): tumbling/sliding rules fold in fold_windows;
    a closed window's config-free partials join the rule's CURRENT
    ACTIVE version and pass only if it still defines that shape (same
    size and a start on the current slide grid; for sessions, the same
    gap), so a delete, pause or resize drops the window and a re-limit
    or re-aggregate re-gates it. Session rules share ONE fold_sessions
    branch, built only if the table holds a session rule (ACTIVE or
    PAUSE) at build time — every branch scans the source once more per
    batch; the window branch is always built.

    global (update mode): running partials of global-window rules (no
    window end — reference quirk Q5) keyed by (rule_id, group_id) only
    and joined to the current global rules, so a config change re-gates
    the SAME running aggregate; window bounds are NULL."""
    active = rules.filter(F.col("rule_state") == "ACTIVE")
    fanned = fanout_live(metrics, active, watermark)
    current = F.broadcast(active.select(
        "rule_id", "window_type", "window_minutes", "window_slide_minutes",
        "agg_type", "limit_op", "limit",
    ))
    size_s = F.col("window_minutes").cast("long") * SECONDS_PER_MINUTE
    # a tumbling rule may carry a windowSlideMinute; like the window
    # assignment and the oracle, the gate ignores it (tumbling = size grid)
    slide_s = (
        F.when(F.col("window_type") == "sliding", F.col("window_slide_minutes"))
        .otherwise(F.col("window_minutes")).cast("long")
        * SECONDS_PER_MINUTE
    )
    windowed = gate_windows(
        fold_windows(fanned).join(current, "rule_id").filter(
            F.col("window_type").isin("tumbling", "sliding")
            & (F.col("window_end") - F.col("window_start") == size_s)
            & (F.pmod(F.col("window_start"), slide_s) == 0)
        )
    )
    if rules.filter(F.col("window_type") == "session").take(1):
        windowed = windowed.unionByName(gate_windows(
            fold_sessions(fanned).join(current, "rule_id").filter(
                (F.col("window_type") == "session")
                & (F.col("window_minutes") == F.col("__gap"))
            )
        ))
    global_ = gate_windows(
        fanned.filter(F.col("window_type") == "global")
        .groupBy("rule_id", "group_id").agg(*partial_aggs())
        .join(current.filter(F.col("window_type") == "global"), "rule_id")
        .withColumns({
            "window_start": F.lit(None).cast("long"),
            "window_end": F.lit(None).cast("long"),
        })
    )
    return windowed, global_


def build_live_cep(
    metrics: DataFrame,
    spark: SparkSession,
    rule_store_path: str,
    watermark: str = DEFAULT_WATERMARK,
    state_buckets: int | None = None,  # ignored; perfbench/stream.py still passes it
) -> DataFrame:
    """Full live pipeline: the windowed stream of cep_streams over the
    rule store (rules_from_store), whose fan-out and gate re-read the
    store's current rules every micro-batch. A store with no session
    rule at build time needs a restart before its first session rule
    applies. Global-window rules never fire in append mode (reference
    quirk Q5); run_live_cep_global serves them.

    The state is Spark's own aggregation state, one row per open window;
    its layout differs from that of every earlier version, so a live
    query must start from a fresh checkpointLocation after an upgrade —
    older live checkpoints cannot be resumed."""
    return cep_streams(metrics, rules_from_store(spark, rule_store_path), watermark)[0]


def run_live_cep_global(
    metrics: DataFrame,
    spark: SparkSession,
    rule_store_path: str,
    sink,
    checkpoint_dir: str,
    trigger: dict | None = None,
):
    """Global-window rules, LIVE: the global stream of cep_streams over
    the rule store, started in UPDATE mode — a rule upsert changes both
    matching and gating at the next micro-batch, since both re-read the
    store in the plan. `sink(batch_df, batch_id)` receives the gated
    rows (window bounds NULL). Returns the started query."""
    rules = rules_from_store(spark, rule_store_path)
    q = (
        cep_streams(metrics, rules, DEFAULT_WATERMARK)[1]
        .writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger:
        q = q.trigger(**trigger)
    return q.start()
