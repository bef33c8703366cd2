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
`F.window()` (literal durations) cannot express them. A single
applyInPandasWithState operator maintains per-(group, window) partial
aggregates (sum/cnt/min/max: O(1) state per window, never raw rows) and
closes a window exactly when the event-time watermark passes its end (the
principled fix of the reference's wall-clock Trigger, Q4; a data-driven
fire would double-emit under in-watermark reordering). The state holds
no rule config: the operator emits every closed window's partials, and
one stream-static join against the rule table of the closing micro-batch
picks the aggregate, applies the threshold and rounds
(operators.windows.gate_windows). A window is emitted only if its rule's
current version is ACTIVE and still defines a window of that shape, so
a delete, pause, re-limit, re-aggregate or resize applies to every
window that closes after it — also one that only the watermark closes.
Spark does NOT filter late rows ahead of a stateful operator (measured —
unlike built-in windowed aggs), so the operator itself discards any
assigned window whose end precedes the current watermark: that window
already fired (or would have fired empty), and merging a late row into
it would resurrect it and double-emit in append mode.

STATE COARSENING (the load-bearing scale decision): the operator is keyed
by hash_bucket(group_id) alone, NOT by raw group_id and NOT per rule — the
reference's keyBy (CEPTaskRunner.java:46) maps to the SHUFFLE distribution
either way, but PySpark's applyInPandasWithState pays a fixed cost per
KEY per micro-batch: measured on the live_rules benchmark at ~12 ms of
task time per key, ~4 ms of it inside `update` (pandas fixed cost), the
rest the Arrow exchange + state round trip. Keying by raw group id means
O(distinct groups) × that cost per batch — unusable at millions of
groups — and keying by (rule, bucket) O(rules × buckets). Each bucket key
instead carries the open windows of MANY groups of EVERY rule as parallel
arrays, and `update` assigns, merges and fires all of a bucket's rows in
one columnar numpy pass (no Python loop over rows or windows), so
per-batch cost is O(buckets) × the per-key cost + O(rows) vectorized,
whatever the rule count — like the batch plan. A group id begins with
its rule id, so the hash spreads every rule's groups over all buckets.
Buckets are sized ∝ total cores (64 default — far above local
parallelism); results are bucket-independent, only the shuffle/state
layout changes.

Scale: state is hash-partitioned by bucket; per-group state is a handful
of ints per open window; the rule table is KBs and broadcast (once to the
fan-out, once to the gate).
No driver-side loops.
"""

from __future__ import annotations

import json
import os
import tempfile
from dataclasses import replace
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from flink_cep_task_spark.operators.fanout import fanout_rules
from flink_cep_task_spark.operators.windows import gate_windows, partial_aggs
from flink_cep_task_spark.rules import WIRE_NAMES, Rule
from flink_cep_task_spark.schemas import RULE_SCHEMA

SECONDS_PER_MINUTE = 60
DEFAULT_STATE_BUCKETS = 64  # shared by all rules; raise ∝ cluster cores at scale

# partials are integer CENTS (measures are DECIMAL(18,2) engine-wide):
# integer accumulation is exact and order-independent, and a closed
# window's partials leave the operator as cents / 100.0 — bit-identical to
# the batch engine's decimal-sum-cast-double, so live streaming results
# hash-match the same DuckDB oracle as the batch plans.
# One state row per hash bucket, shared by every rule: entry i of the
# parallel arrays is one open (rule, group, window) with its partials
# (see "state coarsening" above).
LIVE_STATE_SCHEMA = (
    "rule_ids ARRAY<INT>, gids ARRAY<STRING>, "
    "wstarts ARRAY<LONG>, wsizes ARRAY<LONG>, "
    "sums ARRAY<LONG>, cnts ARRAY<LONG>, "
    "mins ARRAY<LONG>, maxs ARRAY<LONG>"
)
_STATE_DTYPES = (np.int64, object) + (np.int64,) * 6
# what the operator emits per closed window, in measure units
_PARTIALS_SCHEMA = (
    "rule_id INT, group_id STRING, window_start LONG, window_end LONG, "
    "__sum DOUBLE, __cnt LONG, __min DOUBLE, __max DOUBLE"
)
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
    """The live operator's input: Metric rows second-truncated, watermarked
    on event_time, fanned out to `rules` (fanout_rules) and stamped with
    `agg_cents`. Second-truncation comes before the watermark: the
    engine's time domain is epoch seconds (see build_streaming_cep), so
    session-merge distances in build_live_cep's native session branch
    match the batch islands exactly."""
    wm = metrics.withColumn(
        "event_time", F.date_trunc("second", F.col("event_time"))
    ).withWatermark("event_time", watermark)
    return fanout_rules(wm, rules).withColumn(
        # DECIMAL(18,2) × 100 → exact integer cents (see LIVE_STATE_SCHEMA)
        "agg_cents",
        (F.col("agg_input") * 100).cast("long"),
    )


def _assign_windows(pdf: pd.DataFrame, wm_s: int) -> tuple:
    """One frame of live_cep_windows' input → one partial per (row,
    window containing the row), in LIVE_STATE_SCHEMA order. Rows of
    different rules carry different window specs; all are assigned in one
    vectorized pass, as operators.windows.assign_windows does in the JVM.
    Windows the watermark has already closed are left out."""
    # nullable Int64 (NOT a float64 round-trip, which would lose exactness
    # above 2^53 — DECIMAL(18,2) cents reach ~2^57): missing measures
    # (null cents) carry SQL null semantics (Q1 fix) and fold nothing.
    cents = pdf["agg_cents"].astype("Int64")
    ok = cents.notna().to_numpy()
    val = cents[ok].to_numpy(dtype="int64")
    ts = pdf["event_time"].astype("int64").to_numpy()[ok] // 1_000_000_000
    size = pdf["window_minutes"].to_numpy(dtype="int64")[ok] * SECONDS_PER_MINUTE
    # a tumbling rule tiles the size grid, whatever slide it carries
    slide_m = pdf["window_slide_minutes"].to_numpy(dtype="float64")[ok]
    slide = np.where(
        (pdf["window_type"].to_numpy()[ok] == "tumbling") | np.isnan(slide_m),
        size, slide_m * SECONDS_PER_MINUTE,
    ).astype(np.int64)
    # the windows holding ts start on the slide grid in (ts - size, ts]:
    # near epoch 0 the first may start at a NEGATIVE second, and a row in
    # a gap between GAP windows (slide > size) gets none
    first = ((ts - size) // slide + 1) * slide
    n = ts // slide - (ts - size) // slide
    row = np.repeat(np.arange(len(ts)), n)
    start = first[row] + (np.arange(len(row)) - np.repeat(np.cumsum(n) - n, n)) * slide[row]
    # late data: a window whose end the watermark has passed already
    # fired; merging into it would resurrect it and double-emit (see
    # module doc)
    on_time = start + size[row] > wm_s
    row, start = row[on_time], start[on_time]
    v = val[row]
    return (
        pdf["rule_id"].to_numpy(dtype="int64")[ok][row],
        pdf["group_id"].to_numpy(dtype=object)[ok][row],
        start, size[row], v, np.ones(len(row), dtype=np.int64), v, v,
    )


def live_cep_windows(
    fanned: DataFrame,
    state_buckets: int = DEFAULT_STATE_BUCKETS,
) -> DataFrame:
    """Dynamic-window stateful fold over rule-stamped metric rows: emits
    every window the watermark closes as its partials (_PARTIALS_SCHEMA:
    rule_id, group_id, window_start, window_end, __sum, __cnt, __min,
    __max in measure units), UNGATED — agg choice, threshold and rounding
    happen downstream against the current rule table (build_live_cep).

    Input must be a STREAMING DataFrame with a watermark on event_time and
    the fanout_rules output columns plus `agg_cents` — fanout_live's
    output. Rows with a null `agg_cents` (missing measure) fold nothing
    but still advance the upstream watermark. Global-window rules have
    no window end and never fire in this append-mode operator (reference
    quirk Q5 — its AllWindowAssigner windows also never fire); route
    them to run_live_cep_global's update-mode path instead.

    Keyed by hash_bucket(group_id) alone: one key holds the open windows
    of every rule whose groups hash to it, and folds them in one columnar
    numpy pass — see the module docstring's state-coarsening rationale.
    Each row carries its rule's window spec; the state holds no rule
    config.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        wm_ms = state.getCurrentWatermarkMs()
        wm_s = wm_ms // 1000
        # the key's open windows, then every frame's new partials; a
        # key's rows may arrive in several frames, all folded before any
        # window fires
        parts = [
            tuple(np.asarray(a, dtype=d) for a, d in zip(state.get, _STATE_DTYPES))
        ] if state.exists else []
        parts += [_assign_windows(pdf, wm_s) for pdf in pdfs]
        rule, gid, start, size, sums, cnts, mins, maxs = (
            np.concatenate(col) for col in zip(*parts)
        )
        # one entry per (group, window): sort on (group, size, start) and
        # reduce each run. A group id begins with its rule id
        # (fanout_rules), so the group code fixes the rule as well.
        code = pd.factorize(gid)[0]
        order = np.lexsort((start, size, code))
        code, start, size = code[order], start[order], size[order]
        head = np.ones(len(order), dtype=bool)
        head[1:] = (np.diff(code) != 0) | (np.diff(size) != 0) | (np.diff(start) != 0)
        at = np.flatnonzero(head)
        rule, gid, start, size = rule[order][at], gid[order][at], start[at], size[at]
        sums = np.add.reduceat(sums[order], at)
        cnts = np.add.reduceat(cnts[order], at)
        mins = np.minimum.reduceat(mins[order], at)
        maxs = np.maximum.reduceat(maxs[order], at)

        # close ONLY when the WATERMARK passes the window end. A data-driven
        # close (fire when a later event of the group arrives — the
        # reference's Trigger semantics) would double-fire: an in-watermark
        # out-of-order event in a later micro-batch would resurrect the
        # already-emitted window and emit it again with partial contents.
        # Watermark close is safe by construction — once wm ≥ end, any
        # further row for that window is discarded as late above.
        end = start + size
        fire = end <= wm_s
        if not fire.all():
            # state is pickled to the JVM: plain python lists
            state.update(tuple(
                a[~fire].tolist()
                for a in (rule, gid, start, size, sums, cnts, mins, maxs)
            ))
            # GroupState carries ONE timeout per key, so the key's windows
            # share it: it sits at the EARLIEST open window's end (strictly
            # past the current watermark, as the API requires) and is
            # re-armed here on every call. When it fires, every window the
            # watermark has passed is emitted below and the timeout moves
            # to the next earliest end — each window fires exactly once,
            # when the watermark passes its end.
            state.setTimeoutTimestamp(max(int(end[~fire].min()) * 1000, wm_ms + 1))
        elif state.exists:
            # nothing in flight: drop the state row entirely so deleted
            # rules / retired groups don't accumulate in the state store
            state.remove()
        if fire.any():
            yield pd.DataFrame({
                "rule_id": rule[fire], "group_id": gid[fire],
                "window_start": start[fire], "window_end": end[fire],
                "__sum": sums[fire] / 100.0, "__cnt": cnts[fire],
                "__min": mins[fire] / 100.0, "__max": maxs[fire] / 100.0,
            })

    windowed = fanned.filter(F.col("window_type") != "global").withColumn(
        "bucket", F.pmod(F.xxhash64("group_id"), F.lit(state_buckets))
    )
    # prune to exactly the columns the stateful op reads — fanout's
    # decimal agg_input and grouping metadata would otherwise ride the
    # Arrow exchange for nothing
    slim = windowed.select(
        "rule_id", "bucket", "group_id", "event_time", "agg_cents",
        "window_type", "window_minutes", "window_slide_minutes",
    )
    return slim.groupBy("bucket").applyInPandasWithState(
        update,
        outputStructType=_PARTIALS_SCHEMA,
        stateStructType=LIVE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def build_live_cep(
    metrics: DataFrame,
    spark: SparkSession,
    rule_store_path: str,
    watermark: str = "10 minutes",
    state_buckets: int = DEFAULT_STATE_BUCKETS,
) -> DataFrame:
    """Full live pipeline: metric stream × per-batch-refreshed rule table →
    dynamic-window stateful fold → gate. Output schema matches the batch
    engine (LIVE_OUTPUT_SCHEMA = gate_windows' output), so streaming
    results are directly comparable.

    Both the fan-out and the gate read the store's ACTIVE rules in the
    same plan, re-read every micro-batch. The gate inner-joins each
    closed window's partials with its rule's CURRENT version and emits
    the window only if that version still defines a window of the same
    shape — tumbling/sliding: the same size and a start aligned to the
    current slide; session: the same gap — so a window closed after a
    delete, pause or resize emits nothing, and one closed after a
    re-limit or re-aggregate is gated with the new config.

    The operator's key (the hash bucket alone, no rule id) and state
    layout (LIVE_STATE_SCHEMA: every rule's windows in one row per
    bucket, with a rule_ids column; no agg_type/limit_op/lim) and the
    session branches' aggregation buffer (no latest-config pick) differ
    from those of earlier versions, so a live query must start from a
    fresh checkpointLocation after an upgrade; state written with an
    older key or layout cannot be resumed.

    Covers tumbling/sliding rules DYNAMICALLY (window size is a column —
    add/resize mid-run, next batch applies it) and session rules via
    native F.session_window branches built from the store's gaps AT PLAN
    TIME: session state lives in Spark's session-merging state store,
    whose gap must be a literal, so a session rule with a BRAND-NEW gap
    needs a restart. The gaps are snapshotted from the stored ACTIVE and
    PAUSE rules, so pausing/unpausing works mid-run; a gap held only by a
    deleted or superseded rule version is no longer in the store and
    gets no branch. Global-window rules (unbounded, never fire in append
    mode — reference quirk Q5) run through run_live_cep_global's
    update-mode path instead."""
    rules = rules_from_store(spark, rule_store_path)
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
    partials = live_cep_windows(
        fanned.filter(F.col("window_type") != "session"),
        state_buckets=state_buckets,
    )
    out = gate_windows(
        partials.join(current, "rule_id").filter(
            F.col("window_type").isin("tumbling", "sliding")
            & (F.col("window_end") - F.col("window_start") == size_s)
            & (F.pmod(F.col("window_start"), slide_s) == 0)
        )
    )
    # session gaps known at build time: collected from the stored rules
    # (tiny control-plane collect — works for any store path
    # spark.read.text can resolve, local or remote). PAUSEd rules count
    # too, so a paused rule's gap has a live branch the moment it
    # re-activates; only a gap not in the store at plan time needs a
    # restart.
    session_gaps = sorted(
        int(r.window_minutes)
        for r in rules.filter(F.col("window_type") == "session")
        .select("window_minutes")
        .distinct()
        .collect()
    )
    for gap in session_gaps:
        part = fanned.filter(
            (F.col("window_type") == "session")
            & (F.col("window_minutes") == gap)
        )
        # config (agg/threshold) must NOT be a grouping key: a mid-run
        # upsert would fork the session state and emit overlapping
        # duplicate windows. The partials are config-free; the gate
        # supplies the current config.
        sessions = part.groupBy(
            "rule_id",
            "group_id",
            F.session_window("event_time", f"{gap} minutes").alias("w"),
        ).agg(*partial_aggs()).withColumns({
            "window_start": F.col("w.start").cast("long"),
            "window_end": F.col("w.end").cast("long"),
        })
        out = out.unionByName(gate_windows(
            sessions.join(current, "rule_id").filter(
                (F.col("window_type") == "session")
                & (F.col("window_minutes") == gap)
            )
        ))
    return out


def run_live_cep_global(
    metrics: DataFrame,
    spark: SparkSession,
    rule_store_path: str,
    sink,
    checkpoint_dir: str,
    trigger: dict | None = None,
):
    """Global-window rules, LIVE: running per-(rule, group) aggregates in
    UPDATE mode (reference AllWindowAssigner windows never end — quirk Q5 —
    so results are continuous, not fired), gated in foreachBatch against a
    FRESH read of the rule store's ACTIVE global rules — rule upserts
    change both matching (in-plan fan-out) and gating (sink side) at the
    next micro-batch.

    State is keyed by (rule_id, group_id) ONLY — limit/agg config stays out
    of the grouping key, so a mid-run config change re-gates the SAME
    running aggregate instead of splitting its state.

    `sink(batch_df, batch_id)` receives gated rows with the engine's
    standard output schema (window bounds NULL for global windows).
    """
    fanned = fanout_rules(metrics, rules_from_store(spark, rule_store_path))
    agg = (
        fanned.filter(F.col("window_type") == "global")
        .groupBy("rule_id", "group_id")
        .agg(*partial_aggs())
    )

    def gate(batch_df, batch_id: int) -> None:
        # fresh read — foreachBatch runs driver-side, so the store's file
        # listing is NOT frozen at plan time here
        current = rules_from_store(spark, rule_store_path).filter(
            (F.col("rule_state") == "ACTIVE") & (F.col("window_type") == "global")
        ).select("rule_id", "agg_type", "limit_op", "limit")
        sink(gate_windows(
            batch_df.join(F.broadcast(current), "rule_id").withColumns({
                "window_start": F.lit(None).cast("long"),
                "window_end": F.lit(None).cast("long"),
            })
        ), batch_id)

    q = (
        agg.writeStream.outputMode("update")
        .foreachBatch(gate)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger:
        q = q.trigger(**trigger)
    return q.start()
