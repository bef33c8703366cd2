"""Schemas for the engine's two entity kinds: Metric (data) and Rule (query).

Reference data model (cited for parity, not copied):
  * Metric — tags Map<String,String>, metrics Map<String,BigDecimal>,
    eventTime long millis (reference Metric.java:10-23).
  * Rule — ruleId/ruleState/window spec/grouping keys/agg/threshold
    (reference Rule.java:12-24).

Spark mapping (SURVEY.md §1.4): dynamic tag/measure sets become MapType
columns; BigDecimal becomes DecimalType; eventTime becomes TimestampType.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DecimalType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# Exact decimal used for measure values; the reference ingests integers and
# computes in BigDecimal (CEPTaskRunner.java:66-67); the driver's `events`
# table carries 2-decimal doubles. DECIMAL(18,2) makes every aggregate exact
# and therefore order-independent — important for distributed correctness.
MEASURE_DECIMAL = DecimalType(18, 2)

# Schemaless metric event, full parity with reference Metric.java:10-23.
METRIC_SCHEMA = StructType(
    [
        StructField("event_time", TimestampType(), False),
        StructField("tags", MapType(StringType(), StringType()), False),
        StructField("metrics", MapType(StringType(), MEASURE_DECIMAL), False),
    ]
)

# Internal (snake_case) compacted rule table schema; `seq` orders rule
# upserts for last-writer-wins compaction (reference keeps a per-task
# BroadcastState map keyed by ruleId, PartitionEngine.java:54-63).
RULE_SCHEMA = StructType(
    [
        StructField("rule_id", IntegerType(), False),
        StructField("rule_state", StringType(), False),
        StructField("window_type", StringType(), True),
        StructField("window_minutes", IntegerType(), True),
        StructField("window_slide_minutes", IntegerType(), True),
        StructField("grouping_keys", ArrayType(StringType()), False),
        StructField("agg_type", StringType(), False),
        StructField("agg_field", StringType(), False),
        StructField("limit_op", StringType(), False),
        StructField("limit", DecimalType(18, 4), False),
        StructField("seq", LongType(), False),
    ]
)

# Driver-provided typed tables (TESTDATA.md / FIXTURES.md §4).
EVENTS_COLUMNS = ["event_id", "ts", "user_id", "event_type", "value", "props"]

AGG_TYPES = ("SUM", "AVG", "MIN", "MAX")
LIMIT_OPS = ("=", "!=", ">", ">=", "<", "<=")
WINDOW_TYPES = ("tumbling", "sliding", "global")
RULE_STATES = ("ACTIVE", "PAUSE", "DELETE")
