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
by (rule_id, hash_bucket(group_id)), NOT by raw (rule_id, group_id) — the
reference's keyBy (CEPTaskRunner.java:46) maps to the SHUFFLE distribution
either way, but PySpark's applyInPandasWithState pays a fixed cost per
KEY per micro-batch: measured on the live_rules benchmark at ~12 ms of
task time per key, ~4 ms of it inside `update` (pandas fixed cost), the
rest the Arrow exchange + state round trip. Keying by raw group id means
O(distinct groups) × that cost per batch — unusable at millions of
groups. Each bucket key instead carries the state of MANY groups as
parallel arrays, and the update function aggregates all of a bucket's
rows in one vectorized pandas/numpy pass, so per-batch cost is
O(buckets) × the per-key cost + O(rows) vectorized. Buckets are sized ∝
total cores (64 default — far above local parallelism); results are
bucket-independent, only the shuffle/state layout changes.

Scale: state is hash-partitioned by (rule_id, bucket); per-group state is
a handful of ints per open window; the rule table is KBs and broadcast
(once to the fan-out, once to the gate).
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
DEFAULT_STATE_BUCKETS = 64  # per rule; raise ∝ cluster cores at scale

# partials are integer CENTS (measures are DECIMAL(18,2) engine-wide):
# integer accumulation is exact and order-independent, and a closed
# window's partials leave the operator as cents / 100.0 — bit-identical to
# the batch engine's decimal-sum-cast-double, so live streaming results
# hash-match the same DuckDB oracle as the batch plans.
# One state row per (rule, bucket): entry i of the parallel arrays is one
# open (group, window) with its partials (see "state coarsening" above).
LIVE_STATE_SCHEMA = (
    "gids ARRAY<STRING>, wstarts ARRAY<LONG>, wsizes ARRAY<LONG>, "
    "sums ARRAY<LONG>, cnts ARRAY<LONG>, "
    "mins ARRAY<LONG>, maxs ARRAY<LONG>"
)
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

    Keyed by (rule_id, hash_bucket(group_id)) with vectorized intra-bucket
    aggregation — see the module docstring's state-coarsening rationale.
    The window spec is read from the batch's rows; the state holds no
    rule config.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        rule_id = int(key[0])
        wm_ms = state.getCurrentWatermarkMs()
        wm_s = wm_ms // 1000

        # open_w: (group_id, window_start_s, window_size_s) -> [sum, cnt, min, max]
        open_w = {}
        if state.exists:
            gids, wstarts, wsizes, sums, cnts, mins, maxs = state.get
            open_w = {
                (gids[i], int(wstarts[i]), int(wsizes[i])): [
                    int(sums[i]), int(cnts[i]), int(mins[i]), int(maxs[i])
                ]
                for i in range(len(gids))
            }

        if not state.hasTimedOut:
            for pdf in pdfs:
                if not len(pdf):
                    continue
                # the window spec rides on every row, uniform within the
                # key: one rule, one rule-table read per micro-batch
                last = pdf.iloc[-1]
                wtype = str(last["window_type"])
                size_s = int(last["window_minutes"]) * SECONDS_PER_MINUTE
                slide_m = last["window_slide_minutes"]
                slide_s = (
                    int(slide_m) * SECONDS_PER_MINUTE if pd.notna(slide_m) else size_s
                )
                # nullable Int64 (NOT a float64 round-trip, which would lose
                # exactness above 2^53 — DECIMAL(18,2) cents reach ~2^57):
                # missing measures (null cents) carry SQL null semantics
                # (Q1 fix) and aggregate nothing.
                cents = pdf["agg_cents"].astype("Int64")
                ok = cents.notna().to_numpy()
                if not ok.any():
                    continue
                ts = (pdf["event_time"].astype("int64").to_numpy() // 1_000_000_000)[ok]
                vals = cents[ok].to_numpy(dtype="int64")
                gid_codes, gid_uniq = pd.factorize(pdf["group_id"].to_numpy()[ok])
                gid_codes = gid_codes.astype(np.int64)
                # vectorized window assignment across ALL groups in the
                # bucket (a python per-row or per-group loop here was the
                # pipeline's hotspot)
                if wtype == "tumbling":
                    g_all, v_all = gid_codes, vals
                    s_all = (ts // size_s) * size_s
                else:
                    first = ((ts - size_s) // slide_s + 1) * slide_s
                    lastw = (ts // slide_s) * slide_s
                    gs, ss, vs = [], [], []
                    n_cover = (size_s + slide_s - 1) // slide_s + 1
                    for j in range(n_cover):
                        s = first + j * slide_s
                        m = s <= lastw
                        if m.any():
                            gs.append(gid_codes[m])
                            ss.append(s[m])
                            vs.append(vals[m])
                    if not gs:
                        # GAP windows (slide > size): every event in this
                        # batch slice fell between windows — nothing to
                        # fold. Guard required: a one-data-batch replay
                        # always has some in-window event, but a multi-
                        # micro-batch cadence can hand a bucket a
                        # gap-only slice (np.concatenate([]) raises).
                        continue
                    g_all = np.concatenate(gs)
                    s_all = np.concatenate(ss)
                    v_all = np.concatenate(vs)
                # one fold per (group, window). Offset packing (NOT a plain
                # shift-or): a sliding window covering an event near epoch 0
                # legitimately starts at a NEGATIVE second (first = ((ts -
                # size) // slide + 1) * slide), which would corrupt an OR
                # pack. s + 2^34 maps every start in (-2^34, 2^34) — ±544
                # years — to a non-negative < 2^35; group codes stay < 2^28
                # per bucket-batch, so the product fits int64 exactly.
                kk = g_all * np.int64(1 << 35) + (s_all.astype(np.int64) + np.int64(1 << 34))
                uniq, inv = np.unique(kk, return_inverse=True)
                sums_a = np.zeros(len(uniq), dtype=np.int64)
                np.add.at(sums_a, inv, v_all)
                cnts_a = np.bincount(inv, minlength=len(uniq))
                mins_a = np.full(len(uniq), np.iinfo(np.int64).max, dtype=np.int64)
                np.minimum.at(mins_a, inv, v_all)
                maxs_a = np.full(len(uniq), np.iinfo(np.int64).min, dtype=np.int64)
                np.maximum.at(maxs_a, inv, v_all)
                u_gid = (uniq >> 35).tolist()
                u_start = ((uniq & ((1 << 35) - 1)) - (1 << 34)).tolist()
                for i in range(len(uniq)):
                    if int(u_start[i]) + size_s <= wm_s:
                        # late data: this window's end precedes the current
                        # watermark — it already fired; merging would
                        # resurrect it and double-emit (see module doc)
                        continue
                    k = (gid_uniq[u_gid[i]], int(u_start[i]), size_s)
                    w = open_w.get(k)
                    if w is None:
                        open_w[k] = [
                            int(sums_a[i]), int(cnts_a[i]),
                            int(mins_a[i]), int(maxs_a[i]),
                        ]
                    else:
                        w[0] += int(sums_a[i])
                        w[1] += int(cnts_a[i])
                        w[2] = min(w[2], int(mins_a[i]))
                        w[3] = max(w[3], int(maxs_a[i]))

        # close ONLY when the WATERMARK passes the window end. A data-driven
        # close (fire when a later event of the group arrives — the
        # reference's Trigger semantics) would double-fire: an in-watermark
        # out-of-order event in a later micro-batch would resurrect the
        # already-emitted window and emit it again with partial contents.
        # Watermark close is safe by construction — once wm ≥ end, any
        # further event for that window is below the watermark and dropped
        # upstream.
        fired = []
        for k in list(open_w):
            gid, start_s, size_s = k
            end_s = start_s + size_s
            if end_s <= wm_s:
                s, c, mn, mx = open_w.pop(k)
                fired.append((rule_id, gid, start_s, end_s,
                              s / 100.0, c, mn / 100.0, mx / 100.0))

        if open_w:
            keys = sorted(open_w)
            state.update(
                (
                    [k[0] for k in keys],
                    [k[1] for k in keys],
                    [k[2] for k in keys],
                    [open_w[k][0] for k in keys],
                    [open_w[k][1] for k in keys],
                    [open_w[k][2] for k in keys],
                    [open_w[k][3] for k in keys],
                )
            )
            # GroupState carries ONE timeout per key, so the key's windows
            # share it: it sits at the EARLIEST open window's end (strictly
            # past the current watermark, as the API requires) and is
            # re-armed here on every call. When it fires, every window the
            # watermark has passed is emitted above and the timeout moves
            # to the next earliest end — each window fires exactly once,
            # when the watermark passes its end.
            min_end_ms = min(k[1] + k[2] for k in keys) * 1000
            state.setTimeoutTimestamp(max(min_end_ms, wm_ms + 1))
        elif state.exists:
            # nothing in flight: drop the state row entirely so deleted
            # rules / retired groups don't accumulate in the state store
            state.remove()
        if fired:
            yield pd.DataFrame(
                fired,
                columns=[
                    "rule_id", "group_id", "window_start", "window_end",
                    "__sum", "__cnt", "__min", "__max",
                ],
            )

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
    return slim.groupBy("rule_id", "bucket").applyInPandasWithState(
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

    The operator's state layout (LIVE_STATE_SCHEMA: no agg_type/limit_op/
    lim) and the session branches' aggregation buffer (no latest-config
    pick) differ from those of earlier versions, so a live query must
    start from a fresh checkpointLocation after an upgrade; state written
    with the old layout cannot be resumed.

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
