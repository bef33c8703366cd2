"""Event-time window assignment + aggregation + threshold gate (W1-W5, A1-A3).

Replaces the reference's WindowAssigner/Window/Trigger machinery
(TumblingWindowAssigner.java, SlidingWindowAssigner.java,
AllWindowAssigner.java, Window.java, TriggerCenter.java) with one
declarative pass.

Because rules are *data*, different rows carry different window sizes — so
instead of `F.window()` (whose duration is a literal), window assignment is
epoch arithmetic on columns:

  tumbling: start = floor(t / size) * size                    (one window)
  sliding:  starts = sequence(s0, s1, slide) with
            s0 = smallest aligned start > t - size, s1 = floor(t/slide)*slide
            (k = ceil(size/slide) covering windows — the same replication
            factor Flink's sliding assigner produces)
  global:   start = NULL (one unbounded window per group,
            AllWindowAssigner.java:23-30)

then ONE explode + ONE hash aggregation evaluates every rule of every type
simultaneously. All expressions are built-in (whole-stage codegen); the only
shuffle is the groupBy on (rule_id, group_id, window_start) — exactly the
reference's keyBy shuffle (CEPTaskRunner.java:46), with the window in the
key so state is naturally partitioned at 100 TB scale.

Windows are epoch-aligned [start, end) half-open (Window.java:66-68 is also
half-open). The reference aligns tumbling windows to each group's first
event (quirk Q3, TumblingWindowAssigner.java:27-39); we use epoch alignment
(the standard Spark/Flink-SQL semantic). A first-event-aligned compat mode
lives in streaming/state.py.

Aggregate semantics are SQL (nulls ignored; AVG = sum/count over the
window): deliberate fixes of reference quirks Q1 (SUM/MAX seeded with ZERO)
and Q2 (AVG divisor uses the whole shared buffer, Window.java:85). Each
divergence is pinned by a test in tests/test_windows.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SECONDS_PER_MINUTE = 60
# agg_value decimals — the oracle rounds to the same 4 (oracle._rule_sql)
ROUND_DIGITS = 4


def assign_windows(fanned: DataFrame, ts_col: str = "event_time") -> DataFrame:
    """Explode each rule-stamped metric row into its covering window(s).

    Adds `window_start` / `window_end` (epoch seconds, NULL for global
    windows). Pure column arithmetic — supports heterogeneous window specs
    in a single plan.
    """
    t = F.col(ts_col).cast("long")  # epoch seconds, truncated
    size = (F.col("window_minutes").cast("long") * SECONDS_PER_MINUTE).alias("size_s")
    slide = (
        F.coalesce(F.col("window_slide_minutes"), F.col("window_minutes")).cast("long")
        * SECONDS_PER_MINUTE
    )

    tumb_start = F.floor(t / size) * size
    # smallest aligned start strictly greater than t - size ⇒ the window
    # [s, s+size) still contains t; largest aligned start ≤ t.
    slide_first = (F.floor((t - size) / slide) + F.lit(1)) * slide
    slide_last = F.floor(t / slide) * slide
    starts = (
        F.when(F.col("window_type") == "tumbling", F.array(tumb_start))
        .when(
            F.col("window_type") == "sliding",
            F.when(slide_first <= slide_last, F.sequence(slide_first, slide_last, slide))
            .otherwise(F.array().cast("array<long>")),  # slide > size ⇒ gaps
        )
        .otherwise(F.array(F.lit(None).cast("long")))  # global window
    )
    out = fanned.withColumn("window_start", F.explode(starts))
    return out.withColumn(
        "window_end",
        F.when(F.col("window_start").isNotNull(), F.col("window_start") + size),
    )


def fold_windows(fanned: DataFrame) -> DataFrame:
    """The streaming window fold: fanned rows of a stream watermarked on
    `event_time` → one row of config-free partials (rule_id, group_id,
    window_start, window_end, __sum, __cnt, __min, __max) per tumbling or
    sliding (rule, group, window), emitted in append mode once the
    watermark passes the window's end. Gate them with gate_windows.

    Windows are assigned by assign_windows, so every window spec shares
    one stateful aggregation. `__wend`, the window end as a timestamp,
    carries the event-time metadata, so Spark evicts and emits each
    window when the upstream watermark passes its end, and drops (and
    counts in numRowsDroppedByWatermark) a row whose window end is not
    past the previous batch's watermark. It is a column before the
    groupBy: an alias inside the grouping is not an attribute, and
    append mode then fails at start. Rows with a null measure fold
    nothing (they still advance the watermark upstream)."""
    assigned = assign_windows(fanned.filter(
        F.col("window_type").isin("tumbling", "sliding") & F.col("agg_input").isNotNull()
    ))
    keyed = assigned.select(
        "rule_id", "group_id", "window_start", "window_end", "agg_input",
        F.timestamp_seconds("window_end").alias(
            "__wend", metadata={"spark.watermarkDelayMs": 0}
        ),
    )
    return keyed.groupBy(
        "rule_id", "group_id", "window_start", "window_end", "__wend"
    ).agg(*partial_aggs()).drop("__wend")


def fold_sessions(fanned: DataFrame) -> DataFrame:
    """The session fold of every surface (batch, native and live
    streaming): one F.session_window over every session rule, its gap
    read per row from `window_minutes` → config-free partials per
    (rule, group, session), with the gap as `__gap`.
    The gap is part of the key, so a rule whose gap changes starts new
    sessions and the gate drops the old-gap ones."""
    gap = F.concat(F.col("window_minutes").cast("string"), F.lit(" minutes"))
    return fanned.filter(F.col("window_type") == "session").groupBy(
        "rule_id", "group_id", F.col("window_minutes").alias("__gap"),
        F.session_window("event_time", gap).alias("__w"),
    ).agg(*partial_aggs()).withColumns({
        "window_start": F.col("__w.start").cast("long"),
        "window_end": F.col("__w.end").cast("long"),
    }).drop("__w")


def partial_aggs() -> list:
    """The four mergeable partials every aggregate kind is derived from:
    __sum, __cnt, __min, __max of the fanned `agg_input` (SQL semantics —
    nulls ignored)."""
    return [
        F.sum("agg_input").alias("__sum"),
        F.count("agg_input").alias("__cnt"),
        F.min("agg_input").alias("__min"),
        F.max("agg_input").alias("__max"),
    ]


def aggregate_windows(assigned: DataFrame) -> DataFrame:
    """One hash aggregation computing the partials of all four aggregate
    kinds per (rule, group, window); gate_windows then picks each rule's
    requested one (Window.java:40-47 dispatch).

    Catalyst runs this as partial (map-side) + final aggregation — the
    incremental-fold behavior of the reference (Window.java:98-126) falls
    out of the standard SUM/MIN/MAX/COUNT accumulators, and AVG becomes
    (exact decimal SUM, COUNT) instead of the reference's buffered TreeMap
    (strictly better: O(1) state per window, no raw-row retention).
    """
    return assigned.groupBy(
        "rule_id",
        "group_id",
        "window_start",
        "window_end",
        # functionally dependent on rule_id — kept in the key to ride along
        # without a second join; adds no cardinality.
        "agg_type",
        "limit_op",
        "limit",
    ).agg(*partial_aggs())


def gate_windows(partials: DataFrame) -> DataFrame:
    """Partials → the engine's output rows: the ONE aggregate-value CASE,
    threshold gate and rounding that every surface (batch, session, native
    and live streaming) applies.

    Input: rule_id, group_id, window_start, window_end, agg_type,
    limit_op, limit and the partials __sum/__cnt/__min/__max (exact
    decimals, or doubles in measure units). The value is the partial cast
    to double (AVG = sum/count, Window.java:40-47); the HAVING gate keeps
    rows where `value <op> limit` (A3), mirroring Rule.apply's
    BigDecimal.compareTo switch (Rule.java:39-56) on the double value vs.
    the decimal limit cast to double — deterministic because the partials
    are exact before the cast. Output (Q9 enrichment — the reference
    emits only the bare aggregate value, Window.java:58-63):
      rule_id INT, group_id STRING, window_start BIGINT, window_end BIGINT,
      agg_type STRING, agg_value DOUBLE (rounded for cross-engine hashing).
    """
    agg = F.col("agg_type")
    value = (
        F.when(agg == "SUM", F.col("__sum").cast("double"))
        .when(agg == "AVG", F.col("__sum").cast("double") / F.col("__cnt"))
        .when(agg == "MIN", F.col("__min").cast("double"))
        .otherwise(F.col("__max").cast("double"))
    )
    lim = F.col("limit").cast("double")
    v = F.col("agg_value")
    op = F.col("limit_op")
    passed = (
        F.when(op == "=", v == lim)
        .when(op == "!=", v != lim)
        .when(op == ">", v > lim)
        .when(op == ">=", v >= lim)
        .when(op == "<", v < lim)
        .otherwise(v <= lim)
    )
    return partials.withColumn("agg_value", value).filter(passed).select(
        "rule_id",
        "group_id",
        "window_start",
        "window_end",
        "agg_type",
        round_half_up("agg_value").alias("agg_value"),
    )


def round_half_up(col, digits: int = ROUND_DIGITS):
    """floor(x·10^d + 0.5)/10^d — the ONE rounding formula every engine
    surface (gate_windows) and the DuckDB oracle apply to agg_value.

    F.round (JVM BigDecimal HALF_UP on the double's shortest decimal
    repr) and DuckDB's round() (scaled-multiply on the raw binary double)
    disagree when x·10^d lands within one ulp of a half — e.g. an AVG of
    exact cents whose double quotient prints as ...22.86125: Spark
    rounded it 22.8613, DuckDB 22.8612 (found by cep_many_rules at
    sf0.01). The floor form is pure double arithmetic — multiply, add,
    floor — reproducible bit-for-bit in Spark and DuckDB since
    the unrounded agg_value is itself identical (exact decimal sums /
    integer counts)."""
    scale = F.lit(float(10 ** digits))
    return (F.floor(F.col(col) * scale + F.lit(0.5)) / scale).cast("double")


def evaluate_windows(fanned: DataFrame) -> DataFrame:
    """Full W+A pipeline: assign → aggregate → gate (gate_windows'
    output schema)."""
    return gate_windows(aggregate_windows(assign_windows(fanned)))
