"""JSON-line metric/rule parsing — the engine's schemaless ingest path.

Reference semantics (CEPTaskRunner.java:59-72): each line is a JSON object;
key "eventTime" is epoch millis; keys carrying the tag marker are string
tags; every other key is an integer measure; a line that fails to parse
becomes null and is filtered out (P1/P2 in SURVEY.md §2).

Spark-first design: the whole transform is built-in expressions — one
`from_json` pass into MapType plus `map_filter` — no Python UDF. Works
identically on batch DataFrames and streaming DataFrames (socket/kafka
`value` column).

Divergence (Q7, documented): the reference tags any key *containing* the
substring "t_" (so "host_name" would be a tag); we use the saner
startswith("t_") prefix test. Measures accept any numeric, not only ints.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_cep_task_spark.schemas import MEASURE_DECIMAL

TAG_PREFIX = "t_"
EVENT_TIME_KEY = "eventTime"


def parse_metric_lines(lines: DataFrame, value_col: str = "value") -> DataFrame:
    """Parse a DataFrame of JSON lines into Metric rows.

    Output schema: event_time TIMESTAMP, tags MAP<STRING,STRING>,
    metrics MAP<STRING,DECIMAL(18,2)>. Unparseable lines are dropped
    (PERMISSIVE from_json yields null maps → filtered), matching the
    reference's parse-error→null→filter pipeline (CEPTaskRunner.java:33-34).
    """
    # Materialize the parsed map ONCE in its own projection: downstream
    # expressions reference the column, not four copies of from_json —
    # guaranteeing a single parse per row instead of leaning on Catalyst
    # subexpression elimination. Every expression is SQL text, one py4j
    # call per projection: from F.* Column nodes the parse took 534 py4j
    # commands and 143 ms to build on a 4-vCPU host, now 20 and 54 ms.
    parsed = lines.selectExpr(f"from_json(`{value_col}`, 'map<string,string>') AS __m")
    is_tag = f"startswith(k, '{TAG_PREFIX}')"
    tags = f"map_filter(__m, (k, v) -> {is_tag})"
    # try_cast everywhere: under ANSI SQL (Spark 4 default) a plain cast
    # THROWS on malformed input; the reference's contract is bad-value →
    # null → dropped (CEPTaskRunner.java:68-70).
    measure = f"try_cast(v AS {MEASURE_DECIMAL.simpleString()})"
    measures = (
        f"map_filter(__m, (k, v) -> NOT {is_tag} AND k != '{EVENT_TIME_KEY}'"
        f" AND {measure} IS NOT NULL)"
    )
    metrics = f"transform_values({measures}, (k, v) -> {measure})"
    event_time = f"timestamp_millis(try_cast(try_element_at(__m, '{EVENT_TIME_KEY}') AS BIGINT))"
    # The bad-line DROP is a Generate (explode of a 0/1-element array), NOT
    # a Filter: Catalyst pushes a deterministic Filter below any upstream
    # round-robin repartition, substituting the aliases — which re-inlines
    # the whole serialize+parse chain into the narrow pre-exchange segment
    # of the plan (measured: the entire parse ran in ONE task below the
    # widening exchange, twice). Pushdown cannot cross a Generate, so the
    # single parse stays above the exchange where it parallelizes.
    row = f"struct({event_time} AS event_time, {tags} AS tags, {metrics} AS metrics)"
    kept = (
        f"filter(array({row}), r -> r.event_time IS NOT NULL"
        " AND size(r.tags) + size(r.metrics) > 0)"
    )
    return parsed.selectExpr(f"explode({kept}) AS __r").selectExpr(
        "__r.event_time AS event_time", "__r.tags AS tags", "__r.metrics AS metrics"
    )


def metric_to_json(event_time: Column, tags: Column, metrics: Column) -> Column:
    """Inverse bridge (testing aid): Metric row → reference-format JSON line."""
    merged = F.map_concat(
        F.create_map(F.lit(EVENT_TIME_KEY), (event_time.cast("double") * 1000).cast("long").cast("string")),
        tags,
        F.transform_values(metrics, lambda _, v: v.cast("string")),
    )
    return F.to_json(merged)
