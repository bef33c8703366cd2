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
    in a single plan. SQL text, one py4j call per expression: from F.*
    Column nodes it took 432 py4j commands and 95 ms to build on a 4-vCPU
    host, now 11 and 65 ms. Every operand is parenthesized, so the
    expression tree is the one the arithmetic spells.
    """
    t = f"CAST(`{ts_col}` AS BIGINT)"  # epoch seconds, truncated
    size = f"(CAST(window_minutes AS BIGINT) * {SECONDS_PER_MINUTE})"
    slide = (
        f"(CAST(coalesce(window_slide_minutes, window_minutes) AS BIGINT)"
        f" * {SECONDS_PER_MINUTE})"
    )

    tumb_start = f"(FLOOR({t} / {size}) * {size})"
    # smallest aligned start strictly greater than t - size ⇒ the window
    # [s, s+size) still contains t; largest aligned start ≤ t.
    slide_first = f"((FLOOR(({t} - {size}) / {slide}) + 1) * {slide})"
    slide_last = f"(FLOOR({t} / {slide}) * {slide})"
    starts = (
        f"CASE WHEN window_type = 'tumbling' THEN array({tumb_start})"
        f" WHEN window_type = 'sliding' THEN"
        f" CASE WHEN {slide_first} <= {slide_last}"
        f" THEN sequence({slide_first}, {slide_last}, {slide})"
        " ELSE CAST(array() AS ARRAY<BIGINT>) END"  # slide > size ⇒ gaps
        " ELSE array(CAST(NULL AS BIGINT)) END"  # global window
    )
    out = fanned.selectExpr("*", f"explode({starts}) AS window_start")
    return out.withColumn(
        "window_end",
        F.expr(f"CASE WHEN window_start IS NOT NULL THEN window_start + {size} END"),
    )


def fold_windows(fanned: DataFrame) -> DataFrame:
    """The window fold of every surface: fanned rows → config-free
    partials (rule_id, group_id, window_start, window_end, __minutes,
    __start, __sum, __cnt, __min, __max) per tumbling, sliding or session
    (rule, group, window), emitted in append mode once the `event_time`
    watermark passes the window's end. Gate them with gate_windows.

    ONE F.session_window folds every kind, its gap read per row from
    `window_minutes`. A window is a session nothing can extend: a
    tumbling or sliding row is stamped at its window's start (from
    assign_windows) with the window size as gap, and start and size are
    in the key (`__start`, `__minutes`), so its session is exactly
    [start, start + size). A session row keeps its event time and a NULL
    `__start`. Spark's late-row filter and eviction act on the session
    end — a window row's window end: a row is dropped (and counted in
    numRowsDroppedByWatermark) when that end is not past the previous
    batch's watermark. Window rows with a null measure fold nothing;
    session rows with one still shape their session, as in the oracle."""
    kind = F.col("window_type")
    assigned = assign_windows(fanned.filter(
        (kind == "session") | (kind.isin("tumbling", "sliding") & F.col("agg_input").isNotNull())
    ))
    # the stamp keeps the watermark metadata: session_window takes its
    # event-time marker from the time column
    stamped = assigned.withColumn(
        "event_time", F.coalesce(F.timestamp_seconds("window_start"), "event_time")
    ).withMetadata("event_time", fanned.schema["event_time"].metadata)
    gap = F.concat(F.col("window_minutes").cast("string"), F.lit(" minutes"))
    return stamped.groupBy(
        "rule_id", "group_id",
        F.col("window_minutes").alias("__minutes"),
        F.col("window_start").alias("__start"),
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
    # SQL text, one py4j call per expression: from F.* Column nodes the
    # gate took 536 py4j commands and 118 ms to build on a 4-vCPU host,
    # now 16 and 40 ms. `limit` is a reserved word and is backquoted.
    value = (
        "CASE WHEN agg_type = 'SUM' THEN CAST(__sum AS DOUBLE)"
        " WHEN agg_type = 'AVG' THEN CAST(__sum AS DOUBLE) / __cnt"
        " WHEN agg_type = 'MIN' THEN CAST(__min AS DOUBLE)"
        " ELSE CAST(__max AS DOUBLE) END"
    )
    lim = "CAST(`limit` AS DOUBLE)"
    passed = (
        f"CASE WHEN limit_op = '=' THEN agg_value = {lim}"
        f" WHEN limit_op = '!=' THEN agg_value != {lim}"
        f" WHEN limit_op = '>' THEN agg_value > {lim}"
        f" WHEN limit_op = '>=' THEN agg_value >= {lim}"
        f" WHEN limit_op = '<' THEN agg_value < {lim}"
        f" ELSE agg_value <= {lim} END"
    )
    return partials.withColumn("agg_value", F.expr(value)).filter(passed).selectExpr(
        "rule_id",
        "group_id",
        "window_start",
        "window_end",
        "agg_type",
        f"{round_half_up('agg_value')} AS agg_value",
    )


def round_half_up(col: str, digits: int = ROUND_DIGITS) -> str:
    """floor(x·10^d + 0.5)/10^d, as SQL text over the column `col` — the
    ONE rounding formula every engine surface (gate_windows) and the
    DuckDB oracle apply to agg_value.

    F.round (JVM BigDecimal HALF_UP on the double's shortest decimal
    repr) and DuckDB's round() (scaled-multiply on the raw binary double)
    disagree when x·10^d lands within one ulp of a half — e.g. an AVG of
    exact cents whose double quotient prints as ...22.86125: Spark
    rounded it 22.8613, DuckDB 22.8612 (found by cep_many_rules at
    sf0.01). The floor form is pure double arithmetic — multiply, add,
    floor — reproducible bit-for-bit in Spark and DuckDB since
    the unrounded agg_value is itself identical (exact decimal sums /
    integer counts). The literals carry a D suffix: a bare 10000.0 is a
    DECIMAL in SQL and would make the scaling a decimal division."""
    scale = f"{float(10 ** digits)}D"
    return f"CAST(FLOOR(`{col}` * {scale} + 0.5D) / {scale} AS DOUBLE)"


def evaluate_windows(fanned: DataFrame) -> DataFrame:
    """Full W+A pipeline: assign → aggregate → gate (gate_windows'
    output schema)."""
    return gate_windows(aggregate_windows(assign_windows(fanned)))
