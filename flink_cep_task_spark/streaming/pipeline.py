"""Structured Streaming execution of the CEP rule pipeline.

Replaces the reference's runtime machinery 1:1 (SURVEY.md §3.3):

  socket/file line stream      → spark.readStream (S1)
  parseMetric map+filter       → sources.jsonline.parse_metric_lines (P1/P2)
  broadcast rule state         → stream-static broadcast join per micro-batch
                                 (B1-B3; rule table re-resolved each batch, so
                                 rule CRUD takes effect at the next trigger —
                                 the deliberate fix of reference quirk Q6)
  keyBy + WindowAssigner/state → one native groupBy(rule_id, group_id, window)
                                 on the state store (K1, W0-W5)
  TriggerCenter timer thread   → event-time watermark (T1-T3; fixes the
                                 wall-clock firing defect Q4 — windows fire
                                 when the WATERMARK passes their end, results
                                 are never silently lost)
  Window.result + threshold    → agg + HAVING filter (A1-A3)
  print sink                   → any writeStream sink (O1)
  restart strategy             → checkpointLocation (R1/R2)

Window sizes are rule data, so windows are assigned as data
(operators.windows.assign_windows) and every tumbling/sliding rule shares
ONE stateful aggregation (operators.windows.fold_windows) that the
watermark evicts at each window's end; every session rule shares ONE
F.session_window branch with a per-row gap (fold_sessions).
build_streaming_cep is the live engine's stream builder
(streaming/live.cep_streams) over a static rule table: the same folds,
gated against the table's rules in the plan (gate_windows), unioned into
a single append-mode stream. Global-window rules (no window end —
reference AllWindowAssigner never fires, Q5) become a separate
UPDATE-mode aggregation that emits per batch.

At scale: the fold shuffles on (rule_id, group_id, window) — state is
hash-partitioned across executors; watermark bounds state size; no
driver-side loops anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_cep_task_spark.rules import Rule, compact_rule_list, rules_df
from flink_cep_task_spark.sources.jsonline import parse_metric_lines
from flink_cep_task_spark.streaming.live import DEFAULT_WATERMARK, cep_streams


def metrics_stream_from_text(spark: SparkSession, path: str, max_files_per_trigger: int = 1) -> DataFrame:
    """JSON-lines file stream → Metric rows (dev/test stand-in for the
    reference's socket 9999; swap for kafka in production)."""
    lines = (
        spark.readStream.option("maxFilesPerTrigger", max_files_per_trigger)
        .text(path)
    )
    return parse_metric_lines(lines, value_col="value")


def metrics_stream_from_parquet(
    spark: SparkSession, path: str, schema, max_files_per_trigger: int = 1
) -> DataFrame:
    """Metric rows streamed straight from parquet files (already in the
    engine's Metric shape: event_time, tags, metrics) — the replay/backfill
    source: no JSON serialization round trip, columnar scan, predicate/
    column pruning intact. The JSON-parse ingest path (socket/file/kafka)
    is exercised separately (tests/test_socket_source.py,
    cep_jsonline_roundtrip, tests/test_streaming.py)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def metrics_stream_from_socket(
    spark: SparkSession, host: str = "127.0.0.1", port: int = 9999
) -> DataFrame:
    """The reference's metric channel 1:1 — line stream from a TCP socket
    (env.socketTextStream(host, 9999), CEPTaskRunner.java:31) → Metric rows.
    Dev/demo only, like the reference: the socket source is not replayable,
    so exactly-once recovery needs the file/kafka sources instead."""
    lines = (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
    )
    return parse_metric_lines(lines, value_col="value")


def rules_socket_to_store(
    spark: SparkSession,
    store,
    host: str = "127.0.0.1",
    port: int = 8888,
    trigger: dict | None = None,
):
    """Bridge the reference's rule socket (8888, CEPTaskRunner.java:37-45)
    into the live engine's rule channel: every JSON line arriving on the
    socket is written to the RuleFileStore, which keeps the current
    version of each rule (an upsert replaces it, a DELETE removes it) and
    which the live metric pipeline re-reads each micro-batch — Flink's
    broadcast-rule stream re-expressed as socket → current-rules table.

    A line that is not valid JSON or not a valid rule is dropped here —
    the store validates on write and raises ValueError (the reference's
    parse-error drop, CEPTaskRunner.java:54-56,40). The foreachBatch
    collect is control-plane only: rule traffic is KBs, never data-sized.

    Returns the started bridge query; run it alongside build_live_cep on
    the metric socket for the reference's dual-socket workflow."""
    import json as _json

    lines = (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
    )

    def absorb(batch_df, _batch_id: int) -> None:
        for row in batch_df.collect():
            try:
                store.upsert(_json.loads(row.value))
            except ValueError:
                continue

    q = lines.writeStream.foreachBatch(absorb)
    if trigger:
        q = q.trigger(**trigger)
    return q.start()


def metric_source(spark: SparkSession, kind: str, **opts) -> DataFrame:
    """One source API over the metric ingest path: file / socket / kafka —
    every variant lands in parse_metric_lines, so the engine downstream is
    source-agnostic (SURVEY.md §1.4).

      metric_source(spark, "file", path=..., max_files_per_trigger=1)
      metric_source(spark, "parquet", path=..., schema=..., max_files_per_trigger=1)
      metric_source(spark, "socket", host=..., port=9999)
      metric_source(spark, "kafka", servers=..., topic=...)
    """
    if kind == "file":
        return metrics_stream_from_text(
            spark, opts["path"], opts.get("max_files_per_trigger", 1)
        )
    if kind == "parquet":
        return metrics_stream_from_parquet(
            spark, opts["path"], opts["schema"], opts.get("max_files_per_trigger", 1)
        )
    if kind == "socket":
        return metrics_stream_from_socket(
            spark, opts.get("host", "127.0.0.1"), opts.get("port", 9999)
        )
    if kind == "kafka":
        # `records` seam: a pre-built kafka-wire-schema stream (e.g. from
        # kafka_shaped_file_records) substitutes for the connector read in
        # connector-less environments — everything downstream of the
        # connector (binary value decode, JSON parse, drop) runs
        # unmodified. Without it, requires spark-sql-kafka on the
        # classpath; the record value is the same JSON line format.
        records = opts.get("records")
        if records is None:
            records = (
                spark.readStream.format("kafka")
                .option("kafka.bootstrap.servers", opts["servers"])
                .option("subscribe", opts["topic"])
                .load()
            )
        return kafka_records_to_metrics(records)
    raise ValueError(f"unknown metric source kind {kind!r}")


def kafka_shaped_file_records(
    spark: SparkSession, path: str, topic: str = "metrics",
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """File-backed kafka fake: a JSON-lines file stream re-shaped to the
    EXACT record schema the kafka connector emits (key/value BINARY, topic,
    partition, offset, timestamp, timestampType — Spark docs, Structured
    Streaming + Kafka Integration Guide), so `metric_source(kind="kafka",
    records=...)` exercises the whole kafka ingest path end-to-end without
    a broker or connector jar. Offsets are per-micro-batch placeholders
    (nothing downstream of the decode consumes them)."""
    lines = (
        spark.readStream.option("maxFilesPerTrigger", max_files_per_trigger)
        .text(path)
    )
    return lines.select(
        F.lit(None).cast("binary").alias("key"),
        F.encode(F.col("value"), "UTF-8").alias("value"),
        F.lit(topic).alias("topic"),
        F.lit(0).cast("int").alias("partition"),
        F.lit(-1).cast("long").alias("offset"),
        F.current_timestamp().alias("timestamp"),
        F.lit(0).cast("int").alias("timestampType"),
    )


def kafka_records_to_metrics(records: DataFrame) -> DataFrame:
    """kafka record batch → Metric rows: CAST the binary `value` to STRING,
    then the standard JSON-line parse (P1/P2 — bad payloads drop). Split
    out from metric_source so the transformation is testable without the
    kafka connector on the classpath (tests/test_streaming_ops.py feeds it
    a kafka-shaped DataFrame)."""
    lines = records.selectExpr("CAST(value AS STRING) AS value")
    return parse_metric_lines(lines, value_col="value")


def build_streaming_cep(
    metrics: DataFrame,
    spark: SparkSession,
    rules: list[Rule],
    watermark: str = DEFAULT_WATERMARK,
) -> tuple[DataFrame | None, DataFrame | None]:
    """(windowed_stream, global_stream) from a streaming Metric DataFrame:
    live.cep_streams over the static, compacted rule table.

    windowed_stream: append-mode; one row per closed (rule, group, window)
    passing its threshold, schema identical to the batch engine's output.
    global_stream: update-mode running aggregates for global-window rules.
    Either is None when no rule of its kind is active. The window branch
    is built whenever the windowed stream is, so a rule list of session
    rules only also runs an empty window fold, and every micro-batch
    scans the source once per branch.
    """
    active = compact_rule_list(rules)
    windowed, global_ = cep_streams(metrics, rules_df(spark, active), watermark)
    kinds = {r.window_type for r in active}
    return (
        windowed if kinds - {"global"} else None,
        global_ if "global" in kinds else None,
    )


# StreamingQueryProgress of the most recently drained stream (filled by
# await_stream): scripts/streaming_baseline.py reads ingest rows/s and
# stateOperators footprint from here — measurement without changing any
# query's signature or behavior
LAST_PROGRESS: list[dict] = []


def await_stream(query, timeout_s: float = 180.0) -> None:
    """awaitTermination with a hard deadline: a query that does not reach a
    terminal state in time is STOPPED and the wait raises, so a regression
    that re-introduces a non-terminating stream fails fast instead of
    hanging the suite."""
    if not query.awaitTermination(timeout_s):
        query.stop()
        raise TimeoutError(
            f"streaming query {query.name!r} still running after {timeout_s}s"
        )
    # surface any exception the query died with
    query.awaitTermination()
    try:
        import json as _json

        LAST_PROGRESS[:] = [
            _json.loads(p.json) if hasattr(p, "json") else p
            for p in query.recentProgress
        ]
    except Exception:
        pass  # progress capture is best-effort telemetry, never a failure


def run_to_memory(
    stream: DataFrame,
    name: str,
    output_mode: str,
    checkpoint_dir: str,
    timeout_s: float = 180.0,
) -> None:
    """Drain a finite stream into an in-memory table (availableNow)."""
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q, timeout_s)
