"""Named CEP rule sets + the (spark_query, oracle_sql) registry entries.

Each entry exercises a distinct slice of the operator inventory
(SURVEY.md §2) over the driver's `events` table. Thresholds are tuned so
results are non-trivial at sf0.01 (some windows pass, some are gated).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from flink_cep_task_spark.oracle import _fmul, cep_oracle_sql
from flink_cep_task_spark.plans.cep import evaluate_rules, evaluate_rules_on_events
from flink_cep_task_spark.rules import Rule, parse_rule_lines, rules_df
from flink_cep_task_spark.sources.jsonline import metric_to_json, parse_metric_lines
from flink_cep_task_spark.sources.tables import (
    events_to_metrics,
    load_table,
    widen_small_scan,
)

# --- rule sets -----------------------------------------------------------

R_TUMBLING_SUM = Rule(
    rule_id=1, window_type="tumbling", window_minutes=1440,
    grouping_keys=("t_event_type",), agg_type="SUM", agg_field="value",
    limit_op=">", limit="500",
)
R_SLIDING_AVG = Rule(
    rule_id=2, window_type="sliding", window_minutes=2880, window_slide_minutes=1440,
    grouping_keys=("t_event_type",), agg_type="AVG", agg_field="value",
    limit_op=">", limit="48",
)
R_GLOBAL_MAX = Rule(
    rule_id=3, window_type="global",
    grouping_keys=("t_user",), agg_type="MAX", agg_field="value",
    limit_op=">=", limit="150",
)
R_TUMBLING_MIN = Rule(
    rule_id=4, window_type="tumbling", window_minutes=240,
    grouping_keys=("t_event_type",), agg_type="MIN", agg_field="value",
    limit_op="<", limit="50",
)
R_MULTIKEY_SUM = Rule(
    rule_id=5, window_type="tumbling", window_minutes=10080,
    grouping_keys=("t_event_type", "t_user"), agg_type="SUM", agg_field="value",
    limit_op=">", limit="100",
)

R_SESSION_SUM = Rule(
    # engine extension: gap-based session window (windowMinutes = the
    # 60-minute inactivity gap). At sf0.01 per-type inter-event gaps have
    # p90≈50min / p99≈100min, so each event_type splits into dozens of
    # sessions, some gated by the threshold.
    rule_id=7, window_type="session", window_minutes=60,
    grouping_keys=("t_event_type",), agg_type="SUM", agg_field="value",
    limit_op=">", limit="300",
)

R_UNGROUPED_AVG = Rule(
    # no grouping keys: every event lands in ONE group whose id is the bare
    # ruleId (PartitionEngine.java:72-81 appends nothing when the key list
    # is empty; Rule.from_wire defaults groupingKeyNames to empty).
    rule_id=6, window_type="tumbling", window_minutes=2880,
    grouping_keys=(), agg_type="AVG", agg_field="value",
    limit_op=">", limit="50",
)

ALL_RULES = [R_TUMBLING_SUM, R_SLIDING_AVG, R_GLOBAL_MAX, R_TUMBLING_MIN, R_MULTIKEY_SUM]

# one rule per comparator (Rule.java:88-108's full LimitOperatorType matrix,
# A3) in a single multi-rule plan; limits tuned so each op both passes and
# gates at sf0.01. `=`/`!=` compare the DOUBLE agg value — exact here because
# SUM of DECIMAL(18,2) cents is integer-exact in both engines.
COMPARATOR_RULES = [
    Rule(rule_id=41 + i, window_type="tumbling", window_minutes=1440,
         grouping_keys=("t_event_type",), agg_type="SUM", agg_field="value",
         limit_op=op, limit=lim, seq=i)
    for i, (op, lim) in enumerate([
        # daily per-type sums at sf0.01 span ~[2122, 5063], median ~3230 —
        # each inequality passes SOME windows and gates others; `=` matches
        # nothing (no exact hit) and `!=` everything, pinning both branches
        ("=", "3230"), ("!=", "3230"), (">", "3230"), (">=", "3230"),
        ("<", "3230"), ("<=", "3230"),
    ])
]

# lifecycle changelog (B2): rule 10 is upserted twice (last wins), rule 11
# is added then DELETEd, rule 12 arrives PAUSEd — only rule 10 v2 runs.
LIFECYCLE_CHANGELOG = [
    Rule(rule_id=10, window_type="tumbling", window_minutes=1440,
         grouping_keys=("t_event_type",), agg_type="SUM", agg_field="value",
         limit_op=">", limit="100", seq=0),
    Rule(rule_id=11, window_type="tumbling", window_minutes=1440,
         grouping_keys=("t_user",), agg_type="AVG", agg_field="value",
         limit_op=">", limit="0", seq=1),
    Rule(rule_id=12, rule_state="PAUSE", window_type="global",
         grouping_keys=("t_event_type",), agg_type="MAX", agg_field="value",
         limit_op=">", limit="0", seq=2),
    Rule(rule_id=10, window_type="tumbling", window_minutes=2880,
         grouping_keys=("t_event_type",), agg_type="SUM", agg_field="value",
         limit_op=">", limit="1000", seq=3),
    Rule(rule_id=11, rule_state="DELETE", seq=4),
]

# --- query callables (driver contract: (spark, sf_dir) -> DataFrame) -----


def _rule_query(rules: list[Rule]):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        return evaluate_rules_on_events(spark, sf_dir, rules)

    desc = "; ".join(
        f"rule {r.rule_id}: {r.window_type} {r.agg_type}({r.agg_field}) by "
        f"{','.join(r.grouping_keys) or '(no keys)'} where agg {r.limit_op} {r.limit}"
        for r in rules
        if r.rule_state == "ACTIVE"
    )
    q.__doc__ = f"CEP rule evaluation over the events table — {desc}."
    return q


# replay workdirs keyed by (sf_dir, ordered): BOTH parity queries replay
# the identical (data + pusher) file set, so the scaffold is built once
# per process, dataset, and ordering variant. Checkpoint dirs / sink
# names stay per-invocation (a reused availableNow checkpoint would
# silently skip all input).
_WORKDIR_CACHE: dict[tuple[str, bool], tuple[str, int]] = {}


# documents replay scaffold for the streaming-dedup parity query — same
# lifecycle as _WORKDIR_CACHE
_DOCS_WORKDIR_CACHE: dict[str, tuple[str, int]] = {}

# two-phase (batch1 / batch2 / pusher) replay scaffold for the mid-replay
# rule-upsert and late-data-policy parity queries — same lifecycle
_SPLIT_WORKDIR_CACHE: dict[str, tuple[str, int, int]] = {}


def _pick_tmpfs() -> str | None:
    """Replay scaffolds (source + checkpoints + sinks) go on tmpfs when
    available AND big enough: every micro-batch commits state files per
    partition, and ext4 fsync latency is pure harness overhead. Docker's
    default /dev/shm is 64 MB, far below a replay's footprint, so require
    a 2 GiB cushion and otherwise fall back to the normal temp dir. A
    real deployment points checkpointLocation at durable storage."""
    import os

    if os.path.isdir("/dev/shm"):
        try:
            st = os.statvfs("/dev/shm")
            if st.f_bavail * st.f_frsize >= 2 << 30:
                return "/dev/shm"
        except OSError:
            pass
    return None


def _cleanup_workdirs() -> None:
    """atexit: reclaim the cached replay scaffolds. They often live on
    RAM-backed /dev/shm, where an unremoved workdir (replay parquet +
    checkpoints + sinks) stays resident across bench/test processes —
    the 2 GiB free-space guard only stops NEW use once tmpfs fills, it
    never reclaims (ADVICE r5)."""
    import shutil

    for cache in (_WORKDIR_CACHE, _DOCS_WORKDIR_CACHE, _SPLIT_WORKDIR_CACHE):
        while cache:
            work = cache.popitem()[1][0]
            shutil.rmtree(work, ignore_errors=True)


import atexit as _atexit

_atexit.register(_cleanup_workdirs)


def _events_stream_workdir(
    spark: SparkSession, sf_dir: str, prefix: str, ordered: bool = False
) -> tuple[str, int]:
    """Replay scaffold shared by the streaming parity queries: the events
    table in Metric shape written as PARQUET (parallel write, columnar
    re-read — no JSON round trip; the JSON ingest path has its own
    coverage: cep_jsonline_roundtrip + socket/file streaming tests) plus
    ONE trailing watermark-pusher file (wm advances at batch N's end, so
    final windows flush in batch N+1; the pusher sits max_event + 40 days
    out — safely past the largest 7-day epoch-aligned window end plus the
    watermark delay). The pusher row carries a measure key NO rule
    aggregates ("zzf"), so it advances the watermark but contributes null
    aggregate inputs everywhere it fans out — it can never satisfy a
    threshold, even for rules with no grouping keys whose single group
    it shares with real events.

    Returns (workdir, n_data_files); the stream source is <workdir>/src.
    Replaying with max_files_per_trigger = n_data_files + 1 yields ONE
    data micro-batch (data + pusher) followed by Spark's no-data batch
    (spark.sql.streaming.noDataMicroBatches, on by default), which runs
    with the pusher-advanced watermark and fires every event-time
    timeout/window close — measured result-identical to a second explicit
    pusher batch, one ~1.2 s batch cheaper. Per-batch fixed cost (state
    commit + Arrow exchange) is the replay's dominant term.

    `ordered=True` builds a TIME-ORDERED variant (range-partitioned on
    event_time, file mtimes in range order) for multi-micro-batch
    replays: the default scaffold's files are hash partitions, so a
    file-per-batch replay would legitimately drop most of every later
    file behind the watermark — a late-data experiment, not a
    throughput run. The steady-state measurement must arrive in event
    order, the way a live source does."""
    import glob as _glob
    import os
    import tempfile

    from pyspark.sql import functions as F

    key = (sf_dir, ordered)
    cached = _WORKDIR_CACHE.get(key)
    if cached is not None and os.path.isdir(os.path.join(cached[0], "src")):
        return cached

    work = tempfile.mkdtemp(prefix=prefix, dir=_pick_tmpfs())
    src = os.path.join(work, "src")
    ev = events_to_metrics(load_table(spark, sf_dir, "events"))
    if ordered:
        ev.repartitionByRange(8, "event_time").write.mode("overwrite").parquet(src)
    else:
        ev.repartition(8).write.mode("overwrite").parquet(src)
    max_ms = ev.agg(F.max((F.col("event_time").cast("double") * 1000).cast("long"))).first()[0]
    parts = sorted(_glob.glob(os.path.join(src, "part-*.parquet")))
    base = max(os.path.getmtime(p) for p in parts)
    if ordered:
        # part-0000i holds range i: stamp strictly increasing mtimes so
        # the file source replays ranges in event-time order
        for k, p in enumerate(parts):
            os.utime(p, (base + k, base + k))
        base += len(parts)
    t_us = (max_ms + 40 * 86_400_000) * 1000
    dest = os.path.join(src, "zz_flush_0.parquet")
    _write_metric_file(
        dest,
        [(t_us, {"t_event_type": "zz_flush", "t_user": "zz"}, {"zzf": "0.00"})],
    )
    os.utime(dest, (base + 10, base + 10))
    _WORKDIR_CACHE[key] = (work, len(parts))
    return work, len(parts)


def _write_metric_file(dest: str, rows: list[tuple]) -> None:
    """Write Metric-shaped rows (t_us, tags dict, metrics dict of decimal
    strings) straight with pyarrow — a 1-row Spark parquet write costs
    whole seconds of job/committer overhead. Used for watermark pushers
    and for injected straggler/late rows in the replay scaffolds."""
    import decimal as _decimal

    import pyarrow as pa
    import pyarrow.parquet as pq

    pa_schema = pa.schema([
        pa.field("event_time", pa.timestamp("us"), nullable=False),
        pa.field("tags", pa.map_(pa.string(), pa.string()), nullable=False),
        pa.field("metrics", pa.map_(pa.string(), pa.decimal128(18, 2)), nullable=False),
    ])
    table = pa.Table.from_arrays(
        [
            pa.array([r[0] for r in rows], type=pa.timestamp("us")),
            pa.array(
                [list(r[1].items()) for r in rows],
                type=pa.map_(pa.string(), pa.string()),
            ),
            pa.array(
                [
                    [(k, _decimal.Decimal(v)) for k, v in r[2].items()]
                    for r in rows
                ],
                type=pa.map_(pa.string(), pa.decimal128(18, 2)),
            ),
        ],
        schema=pa_schema,
    )
    pq.write_table(table, dest)


class _shuffle_partitions:
    """Temporarily pin spark.sql.shuffle.partitions (streaming queries
    size their STATE STORE from it at start: a bounded replay with a few
    thousand keys wants a few partitions, not a partition per core — each
    state partition writes checkpoint files every micro-batch)."""

    def __init__(self, spark: SparkSession, n: int):
        self.spark, self.n = spark, n

    def __enter__(self):
        self.prev = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.prev)


def q_live_streaming(
    spark: SparkSession, sf_dir: str, files_per_trigger: int | None = None
) -> DataFrame:
    """STREAMING parity query #1 — the LIVE rule engine: per-micro-batch
    rule refresh + dynamic-window applyInPandasWithState operator
    (streaming/live.py), drained with availableNow, append output returned
    as a batch DataFrame. Hash-matches the same DuckDB oracle as the batch
    engine — the correctness gate covers the live path end-to-end.
    `files_per_trigger` overrides the gate's one-data-batch replay (the
    steady-state throughput measurement replays file-per-batch)."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from flink_cep_task_spark.schemas import METRIC_SCHEMA
    from flink_cep_task_spark.streaming.live import RuleFileStore, build_live_cep
    from flink_cep_task_spark.streaming.pipeline import (
        metrics_stream_from_parquet,
        run_to_memory,
    )

    work, n_parts = _events_stream_workdir(
        spark, sf_dir, "live_cep_", ordered=files_per_trigger is not None
    )
    store = RuleFileStore(os.path.join(work, "rules.json"))
    for r in LIVE_STREAMING_RULES:
        store.upsert(r.to_wire())

    # ONE data trigger (data + pusher — see _events_stream_workdir); the
    # pusher-advanced watermark then drives Spark's no-data batch, where
    # every event-time timeout fires.
    metrics = metrics_stream_from_parquet(
        spark, os.path.join(work, "src"), METRIC_SCHEMA,
        max_files_per_trigger=files_per_trigger or (n_parts + 1),
    )
    out = build_live_cep(metrics, spark, store.path, watermark="1 minute")
    name = f"live_cep_{uuid.uuid4().hex[:8]}"
    with _shuffle_partitions(spark, 8):
        run_to_memory(out, name, "append", os.path.join(work, f"ckpt_{name}"), timeout_s=600)
    return spark.table(name).filter(~F.col("group_id").contains("zz_flush"))


def q_streaming_windows(
    spark: SparkSession, sf_dir: str, files_per_trigger: int | None = None
) -> DataFrame:
    """STREAMING parity query #2 — the NATIVE windowed pipeline
    (streaming/pipeline.build_streaming_cep): static rule set, built-in
    F.window aggregation on the JVM state store, watermark-driven append.
    The production-default path when rules don't change mid-run; same
    oracle as the batch engine and the live path. `files_per_trigger`
    as in q_live_streaming."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from flink_cep_task_spark.schemas import METRIC_SCHEMA
    from flink_cep_task_spark.streaming.pipeline import (
        build_streaming_cep,
        metrics_stream_from_parquet,
        run_to_memory,
    )

    work, n_parts = _events_stream_workdir(
        spark, sf_dir, "native_cep_", ordered=files_per_trigger is not None
    )
    # one data trigger (data+flush) + Spark's no-data batch closes the
    # final windows — see _events_stream_workdir.
    metrics = metrics_stream_from_parquet(
        spark, os.path.join(work, "src"), METRIC_SCHEMA,
        max_files_per_trigger=files_per_trigger or (n_parts + 1),
    )
    # one tumbling + one sliding spec: every DISTINCT window spec becomes
    # its own stateful aggregation in the unioned plan, so the spec count
    # multiplies state-store cost; two specs exercise W1+W2/A1+A2 natively
    # (the live path covers the full rule matrix in ONE operator).
    windowed, global_s = build_streaming_cep(
        metrics, spark, NATIVE_STREAMING_RULES, watermark="1 minute"
    )
    assert global_s is None
    name = f"native_cep_{uuid.uuid4().hex[:8]}"
    with _shuffle_partitions(spark, 8):
        run_to_memory(windowed, name, "append", os.path.join(work, f"ckpt_{name}"), timeout_s=600)
    return spark.table(name).filter(~F.col("group_id").contains("zz_flush"))


def q_global_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING parity query #3 — GLOBAL-window rules through the LIVE
    update-mode path (run_live_cep_global): running per-(rule, group)
    aggregates gated in foreachBatch against the freshly-read rule store.
    Each micro-batch's gated UPDATE rows append to a parquet sink table
    stamped with the batch id; the last-update-per-key compaction is a
    max_by(batch_id) read-back query, so nothing accumulates in driver
    memory (group cardinality is unbounded at scale — a driver dict would
    be the scale-killer). After the replay drains the compacted table is
    exactly the batch engine's global aggregate — same oracle as
    cep_global_max. Global state never evicts (no window end — reference
    quirk Q5); its size is O(distinct groups), inherent to global rules."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from flink_cep_task_spark.schemas import METRIC_SCHEMA
    from flink_cep_task_spark.streaming.live import RuleFileStore, run_live_cep_global
    from flink_cep_task_spark.streaming.pipeline import (
        await_stream,
        metrics_stream_from_parquet,
    )

    work, n_parts = _events_stream_workdir(spark, sf_dir, "glob_cep_")
    store = RuleFileStore(os.path.join(work, f"rules_glob_{uuid.uuid4().hex[:8]}.json"))
    store.upsert(R_GLOBAL_MAX.to_wire())
    metrics = metrics_stream_from_parquet(
        spark, os.path.join(work, "src"), METRIC_SCHEMA,
        max_files_per_trigger=n_parts + 1,
    )
    sink_dir = os.path.join(work, f"glob_sink_{uuid.uuid4().hex[:8]}")

    def sink(batch_df, bid: int) -> None:
        # append-only: within one update-mode batch each (rule, group) key
        # appears at most once, so __bid totally orders a key's updates
        batch_df.withColumn("__bid", F.lit(int(bid))).write.mode(
            "append"
        ).parquet(sink_dir)

    with _shuffle_partitions(spark, 8):
        q = run_live_cep_global(
            metrics, spark, store.path, sink,
            os.path.join(work, f"ckpt_glob_{uuid.uuid4().hex[:8]}"),
            trigger={"availableNow": True},
        )
        await_stream(q, 600)
    if not os.path.isdir(sink_dir):  # replay produced no gated rows at all
        return spark.createDataFrame(
            [],
            "rule_id INT, group_id STRING, window_start LONG, window_end LONG, "
            "agg_type STRING, agg_value DOUBLE",
        )
    out = (
        spark.read.parquet(sink_dir)
        .groupBy("rule_id", "group_id")
        .agg(
            F.max_by(
                F.struct("window_start", "window_end", "agg_type", "agg_value"),
                "__bid",
            ).alias("__last")
        )
        .select(
            "rule_id", "group_id", "__last.window_start", "__last.window_end",
            "__last.agg_type", "__last.agg_value",
        )
    )
    return out.filter(~F.col("group_id").contains("zz_flush"))


TIMER_WINDOW_S = 86_400  # epoch-aligned daily tumbling windows


def q_timer_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING parity query #4 — the live operator's window fold on its
    own (streaming/live.live_cep_windows): epoch-aligned daily tumbling
    windows per event type, each closed exactly once when the watermark
    passes its end, through applyInPandasWithState event-time timeouts —
    the principled analog of the reference's TriggerCenter.java:22-26 /
    Window.java:58-63 timers, swapping wall-clock for the watermark so
    windows are never silently lost (SURVEY quirk Q4). The replay fans
    out to ONE static tumbling rule and returns the fold's UNGATED
    partials (sum/count/min/max of `value`); the oracle is the plain
    batch tumbling SQL, so the fold is hash-checked end-to-end. Rows
    with a null `value` (and the zz_flush pusher, whose only measure is
    "zzf") fold nothing; the pusher still advances the watermark."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from flink_cep_task_spark.schemas import METRIC_SCHEMA
    from flink_cep_task_spark.streaming.live import fanout_live, live_cep_windows
    from flink_cep_task_spark.streaming.pipeline import (
        metrics_stream_from_parquet,
        run_to_memory,
    )

    work, n_parts = _events_stream_workdir(spark, sf_dir, "timer_cep_")
    metrics = metrics_stream_from_parquet(
        spark, os.path.join(work, "src"), METRIC_SCHEMA,
        max_files_per_trigger=n_parts + 1,
    )
    rule = Rule(
        rule_id=1, window_type="tumbling", window_minutes=TIMER_WINDOW_S // 60,
        grouping_keys=("t_event_type",), agg_field="value",
    )
    fanned = fanout_live(metrics, rules_df(spark, [rule]), watermark="1 minute")
    name = f"timer_cep_{uuid.uuid4().hex[:8]}"
    with _shuffle_partitions(spark, 8):
        run_to_memory(
            live_cep_windows(fanned), name, "append",
            os.path.join(work, f"ckpt_{name}"), timeout_s=600,
        )
    prefix_len = len(f"{rule.rule_id}_")
    return spark.table(name).select(
        F.expr(f"substr(group_id, {prefix_len + 1})").alias("group_id"),
        "window_start",
        "window_end",
        F.col("__sum").alias("agg_sum"),
        F.col("__cnt").alias("agg_cnt"),
        F.col("__min").alias("agg_min"),
        F.col("__max").alias("agg_max"),
    )


TIMER_WINDOWS_SQL = f"""
WITH base AS (
  SELECT event_type AS group_id,
         {_fmul("CAST(floor(epoch(ts)) AS BIGINT)", TIMER_WINDOW_S)} AS ws,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events
  WHERE value IS NOT NULL
)
SELECT group_id, ws AS window_start, ws + {TIMER_WINDOW_S} AS window_end,
       CAST(sum(cents) AS DOUBLE) / 100.0 AS agg_sum,
       count(*) AS agg_cnt,
       CAST(min(cents) AS DOUBLE) / 100.0 AS agg_min,
       CAST(max(cents) AS DOUBLE) / 100.0 AS agg_max
FROM base GROUP BY group_id, ws
"""


R_GAP_SLIDING_SUM = Rule(
    # slide > size: SAMPLED (gap) windows — the live operator's vectorized
    # window assignment must leave between-window events unassigned;
    # riding in the gated live parity query completes the
    # spec-type × engine-path matrix under the oracle.
    rule_id=7, window_type="sliding", window_minutes=240,
    window_slide_minutes=1440, grouping_keys=("t_event_type",),
    agg_type="SUM", agg_field="value", limit_op=">", limit="0",
)

R_TUMBLING_MAX_LIVE = Rule(
    # completes the agg-type matrix on the LIVE path: SUM/AVG/MIN ride the
    # other roster rules, MAX otherwise only ran through the update-mode
    # global path
    rule_id=8, window_type="tumbling", window_minutes=1440,
    grouping_keys=("t_user",), agg_type="MAX", agg_field="value",
    limit_op=">=", limit="120",
)

LIVE_STREAMING_RULES = [
    r for r in ALL_RULES + [R_UNGROUPED_AVG, R_GAP_SLIDING_SUM, R_TUMBLING_MAX_LIVE]
    if r.window_type != "global"
]
NATIVE_STREAMING_RULES = [R_TUMBLING_SUM, R_SLIDING_AVG]

# Raw wire-format rule lines, exactly as they'd arrive on the reference's
# rule socket (resources/rules:1 shape): symbolic limitOperatorType
# (Rule.java:99-107), groupingKeyNames as array OR bare string, unknown
# windowType ⇒ global (CEPEngine.java:75-81), bad lines dropped
# (CEPTaskRunner.java:54-56,40), last-writer-wins upsert by seq.
WIRE_RULE_LINES = [
    '{"ruleId": 21, "ruleState": "ACTIVE", "windowType": "tumbling",'
    ' "windowMinutes": 1440, "groupingKeyNames": ["t_event_type"],'
    ' "aggregatorFunctionType": "SUM", "aggregateFieldName": "value",'
    ' "limitOperatorType": ">", "limit": 800, "seq": 1}',
    # bare-string groupingKeyNames + symbolic <=
    '{"ruleId": 22, "windowType": "sliding", "windowMinutes": 2880,'
    ' "windowSlideMinute": 1440, "groupingKeyNames": "t_event_type",'
    ' "aggregatorFunctionType": "AVG", "aggregateFieldName": "value",'
    ' "limitOperatorType": "<=", "limit": 48, "seq": 2}',
    # unknown windowType ⇒ global
    '{"ruleId": 23, "windowType": "lifetime", "groupingKeyNames": ["t_user"],'
    ' "aggregatorFunctionType": "MAX", "aggregateFieldName": "value",'
    ' "limitOperatorType": ">=", "limit": 150, "seq": 3}',
    "this line is not JSON {",                       # parse error → dropped
    '{"ruleId": 24, "windowType": "tumbling",'
    ' "aggregatorFunctionType": "SUM", "seq": 4}',   # no windowMinutes → dropped
    '{"ruleId": 25, "windowType": "tumbling", "windowMinutes": 60,'
    ' "aggregatorFunctionType": "SUM", "limitOperatorType": "~", "seq": 5}',  # bad op → dropped
    # upsert of 21: later seq wins (limit 500 replaces 800)
    '{"ruleId": 21, "ruleState": "ACTIVE", "windowType": "tumbling",'
    ' "windowMinutes": 1440, "groupingKeyNames": ["t_event_type"],'
    ' "aggregatorFunctionType": "SUM", "aggregateFieldName": "value",'
    ' "limitOperatorType": ">", "limit": 500, "seq": 6}',
    # session windows as a first-class WIRE type (engine extension; the
    # reference coerces unknown types to global — ours does too for
    # truly-unknown strings, but "session" is recognized)
    '{"ruleId": 26, "windowType": "session", "windowMinutes": 180,'
    ' "groupingKeyNames": ["t_event_type"], "aggregatorFunctionType": "SUM",'
    ' "aggregateFieldName": "value", "limitOperatorType": ">", "limit": 0,'
    ' "seq": 7}',
]


FIRST_EVENT_WINDOW_MIN = 1440

# Q3 compat oracle: per-group FIRST-EVENT-aligned tumbling buckets
# (TumblingWindowAssigner.java:23-46: begin = t - (t - t0) % size with t0
# the group's first event), two-pass min-over-group + bucket arithmetic.
FIRST_EVENT_SQL = f"""
WITH m AS (
  SELECT event_type AS grp, epoch_ms(ts) AS ts_ms,
         CAST(value AS DECIMAL(18,2)) AS v
  FROM events
), seeded AS (
  SELECT grp, ts_ms, v,
         min(ts_ms) OVER (PARTITION BY grp) AS t0
  FROM m
), bucketed AS (
  SELECT grp, v,
         t0 + ((ts_ms - t0) // {FIRST_EVENT_WINDOW_MIN * 60_000})
              * {FIRST_EVENT_WINDOW_MIN * 60_000} AS window_start_ms
  FROM seeded
)
SELECT grp, window_start_ms,
       window_start_ms + {FIRST_EVENT_WINDOW_MIN * 60_000} AS window_end_ms,
       CAST(sum(v) AS DOUBLE) AS agg_sum,
       count(v) AS agg_cnt,
       CAST(min(v) AS DOUBLE) AS agg_min,
       CAST(max(v) AS DOUBLE) AS agg_max
FROM bucketed GROUP BY grp, window_start_ms
"""


def q_first_event_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-compat mode for quirk Q3 (first-event-aligned tumbling
    windows) as a driver query: per event_type group, buckets seeded at the
    group's first event. Exercises streaming/state.first_event_aligned_
    tumbling — the batch twin of the applyInPandasWithState operator."""
    from pyspark.sql import functions as F

    from flink_cep_task_spark.streaming.state import first_event_aligned_tumbling

    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("grp"),
        F.col("ts").alias("event_time"),
        F.col("value").cast("decimal(18,2)").alias("agg_input"),
    )
    out = first_event_aligned_tumbling(
        ev, ["grp"], window_minutes=FIRST_EVENT_WINDOW_MIN
    )
    return out.select(
        "grp",
        "window_start_ms",
        "window_end_ms",
        F.col("agg_sum").cast("double").alias("agg_sum"),
        "agg_cnt",
        F.col("agg_min").cast("double").alias("agg_min"),
        F.col("agg_max").cast("double").alias("agg_max"),
    )


FIRST_EVENT_NULL_SQL = f"""
WITH m AS (
  SELECT nullif(event_type, 'click') AS grp, epoch_ms(ts) AS ts_ms,
         CAST(value AS DECIMAL(18,2)) AS v
  FROM events
), seeded AS (
  SELECT grp, ts_ms, v,
         min(ts_ms) OVER (PARTITION BY grp) AS t0
  FROM m
), bucketed AS (
  SELECT grp, v,
         t0 + ((ts_ms - t0) // {FIRST_EVENT_WINDOW_MIN * 60_000})
              * {FIRST_EVENT_WINDOW_MIN * 60_000} AS window_start_ms
  FROM seeded
)
SELECT grp, window_start_ms,
       window_start_ms + {FIRST_EVENT_WINDOW_MIN * 60_000} AS window_end_ms,
       CAST(sum(v) AS DOUBLE) AS agg_sum,
       count(v) AS agg_cnt,
       CAST(min(v) AS DOUBLE) AS agg_min,
       CAST(max(v) AS DOUBLE) AS agg_max
FROM bucketed GROUP BY grp, window_start_ms
"""


def q_first_event_null_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NULL-group-key semantic of first_event_aligned_tumbling, gated
    (VERDICT r5 task #4): one group key is made NULL ('click' events), and
    NULL must behave as its own group — seeded by ITS first event, never
    dropped. This is exactly what the eqNullSafe re-join preserves (a
    name-list equi-join would silently drop every NULL-group row); the
    oracle's window form (PARTITION BY grp) gives NULL-as-a-group for
    free, so a drop or mis-seed on the Spark side hash-mismatches."""
    from pyspark.sql import functions as F

    from flink_cep_task_spark.streaming.state import first_event_aligned_tumbling

    ev = load_table(spark, sf_dir, "events").select(
        F.when(F.col("event_type") == "click", F.lit(None))
        .otherwise(F.col("event_type"))
        .alias("grp"),
        F.col("ts").alias("event_time"),
        F.col("value").cast("decimal(18,2)").alias("agg_input"),
    )
    out = first_event_aligned_tumbling(
        ev, ["grp"], window_minutes=FIRST_EVENT_WINDOW_MIN
    )
    return out.select(
        "grp",
        "window_start_ms",
        "window_end_ms",
        F.col("agg_sum").cast("double").alias("agg_sum"),
        "agg_cnt",
        F.col("agg_min").cast("double").alias("agg_min"),
        F.col("agg_max").cast("double").alias("agg_max"),
    )


def q_rules_from_wire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3/P4 through the correctness gate: raw wire JSON rule lines
    (symbolic and enum-name ops, bare-string keys, unknown window types,
    bad-line drop) parsed by parse_rule_lines and evaluated against
    events. The oracle is generated from the same parse, so the gate pins
    the evaluation of what the parser accepted."""
    return evaluate_rules_on_events(spark, sf_dir, parse_rule_lines(WIRE_RULE_LINES))


def q_jsonline_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → reference-format JSON lines → schemaless parse (P1/P2) →
    rule evaluation. Proves the JSON ingest path computes identically to the
    typed path (same oracle as cep_tumbling_sum). Scan widened below the
    JSON round trip so serialization + parse parallelize."""
    ev = events_to_metrics(widen_small_scan(load_table(spark, sf_dir, "events")))
    lines = ev.select(
        metric_to_json(ev.event_time, ev.tags, ev.metrics).alias("value")
    )
    metrics = parse_metric_lines(lines)
    return evaluate_rules(spark, metrics, [R_TUMBLING_SUM])


# Rule-COUNT scaling: the reference caps at whatever fits its per-task
# broadcast state; our fan-out treats rules as DATA (a broadcast table
# feeding one CASE-dispatched window plan), so the physical plan is
# rule-count-INVARIANT — 12 rules compile the same plan as 1, only the
# fan-out row multiplier grows. This set sweeps window types × aggs ×
# key-sets × comparators in a single evaluation; the oracle is the
# auto-generated UNION ALL of the 12 per-rule SQL queries.
MANY_RULES = [
    Rule(rule_id=100 + i, window_type=wt, window_minutes=wm,
         window_slide_minutes=ws, grouping_keys=keys, agg_type=agg,
         agg_field="value", limit_op=op, limit=lim)
    for i, (wt, wm, ws, keys, agg, op, lim) in enumerate([
        ("tumbling", 1440, None, ("t_event_type",), "SUM", ">", "2500"),
        ("tumbling", 1440, None, ("t_event_type",), "MAX", ">=", "190"),
        ("tumbling", 2880, None, ("t_user",), "SUM", ">", "300"),
        ("tumbling", 2880, None, ("t_user",), "AVG", "<", "40"),
        ("tumbling", 10080, None, ("t_event_type", "t_user"), "SUM", ">", "150"),
        ("tumbling", 4320, None, (), "MIN", "<", "5"),
        ("sliding", 2880, 1440, ("t_event_type",), "AVG", ">", "52"),
        ("sliding", 4320, 1440, ("t_event_type",), "SUM", ">=", "9000"),
        ("sliding", 2880, 720, ("t_user",), "MAX", ">", "170"),
        ("global", None, None, ("t_event_type",), "MAX", ">", "195"),
        ("global", None, None, ("t_user",), "MIN", "<=", "10"),
        ("global", None, None, (), "AVG", "!=", "0"),
    ])
]


# relabeling offset for the scaffold's injected duplicate copies, shared
# by every consumer that must tell copies from originals
# (q_quality_nb_stream's filter); the scaffold asserts real doc_ids stay
# below it at build time
DOCS_STREAM_DUP_OFFSET = 1_000_000


def _docs_stream_workdir(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    """Replay scaffold for the streaming-dedup parity query: the documents
    table with a synthesized event_time (doc_id seconds past a fixed
    base — deterministic, replay-stable) written as 4 original parquet
    files plus 2 later-mtime duplicate-injection files (the testdata
    documents are exact-dup-free, so suppression would be vacuous
    without them), so a maxFilesPerTrigger=1 drain produces 6
    micro-batches and duplicate clusters SPAN batches: the dedup state
    built in batch N must suppress batch N+1's copies, which is the
    property a batch dedup can't show."""
    import glob as _glob
    import os
    import tempfile

    from pyspark.sql import functions as F

    import shutil

    cached = _DOCS_WORKDIR_CACHE.get(sf_dir)
    if cached is not None and os.path.isdir(os.path.join(cached[0], "src")):
        return cached
    work = tempfile.mkdtemp(prefix="dedup_stream_", dir=_pick_tmpfs())
    src = os.path.join(work, "src")
    docs = load_table(spark, sf_dir, "documents").select(
        F.timestamp_millis(
            F.lit(1_700_000_000_000) + F.col("doc_id") * 1000
        ).alias("event_time"),
        "doc_id",
        "text",
    )
    docs.repartition(4).write.mode("overwrite").parquet(src)
    # the injected copies relabel as doc_id + DOCS_STREAM_DUP_OFFSET; a
    # corpus whose ids reach the offset would alias real documents (and
    # every consumer's copy filter would drop real rows) — fail LOUDLY
    # at scaffold build instead of corrupting silently
    max_id = docs.agg(F.max("doc_id")).first()[0]
    if max_id >= DOCS_STREAM_DUP_OFFSET:
        raise ValueError(
            f"documents doc_id reaches {max_id} >= DOCS_STREAM_DUP_OFFSET "
            f"{DOCS_STREAM_DUP_OFFSET}; raise the offset (and the copy "
            "filters that share it)"
        )
    parts = _glob.glob(os.path.join(src, "part-*.parquet"))
    base = max(os.path.getmtime(p) for p in parts)
    # the testdata documents are NEAR-dup-rich but almost exact-dup-free
    # (sf0.01: 500 docs, 500 distinct normalized keys), so the replay
    # injects exact duplicates BY CONSTRUCTION: every 7th doc re-arrives
    # re-labeled (doc_id + 1e6) with a later event_time, in files whose
    # mtime sorts AFTER all originals — the file source triggers in
    # mtime order, so these copies land in later micro-batches and the
    # dedup state built earlier must suppress them. Copies add no new
    # keys, so the batch oracle over `documents` is unchanged.
    dup_dir = os.path.join(work, "dup_src")
    docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("event_time") + F.expr("INTERVAL 30 DAYS")).alias("event_time"),
        (F.col("doc_id") + DOCS_STREAM_DUP_OFFSET).alias("doc_id"),
        "text",
    ).repartition(2).write.mode("overwrite").parquet(dup_dir)
    for i, p in enumerate(_glob.glob(os.path.join(dup_dir, "part-*.parquet"))):
        dest = os.path.join(src, f"zz_dup_{i}.parquet")
        shutil.move(p, dest)
        os.utime(dest, (base + 10, base + 10))
    shutil.rmtree(dup_dir, ignore_errors=True)
    n = len(_glob.glob(os.path.join(src, "*.parquet")))
    _DOCS_WORKDIR_CACHE[sf_dir] = (work, n)
    return work, n


def q_dedup_stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING parity for within-watermark dedup (VERDICT r5 task #5):
    documents replayed across 4 micro-batches through
    dropDuplicatesWithinWatermark (streaming/ops.dedup_exact_stream),
    drained with availableNow. Every 7th document re-arrives re-labeled
    in a LATER micro-batch (see _docs_stream_workdir — the raw table is
    exact-dup-free, so suppression would otherwise be vacuous). The
    watermark delay exceeds the replay's whole synthetic time span, so
    no key is ever evicted or late-dropped and the emitted rows are
    exactly ONE survivor per normalized-text key — cross-batch copies
    suppressed by the dedup state. WHICH
    physical row survives a cluster is arrival-order-dependent (the
    operator keeps the first seen), so the gated result is the KEY SET —
    deterministic, and it pins the three properties that matter: no key
    lost, no key emitted twice, key derivation byte-identical to the
    batch family's DEDUP_KEY_SQL."""
    import os
    import uuid

    from flink_cep_task_spark.streaming.ops import dedup_exact_stream
    from flink_cep_task_spark.streaming.pipeline import run_to_memory

    work, n_parts = _docs_stream_workdir(spark, sf_dir)
    stream = (
        spark.readStream.schema("event_time timestamp, doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(work, "src"))
    )
    # delay > any doc_id gap (doc_id seconds apart): nothing evicts mid-run
    out = dedup_exact_stream(stream, watermark="52560000 minutes")
    name = f"dedup_stream_{uuid.uuid4().hex[:8]}"
    with _shuffle_partitions(spark, 8):
        run_to_memory(out, name, "append", os.path.join(work, f"ckpt_{name}"), timeout_s=600)
    return spark.table(name).select("k")


from flink_cep_task_spark.operators.dedup import DEDUP_KEY_SQL as _DEDUP_KEY_SQL

DEDUP_STREAM_SQL = f"""
SELECT DISTINCT {_DEDUP_KEY_SQL} AS k FROM documents
"""


# --- two-phase replays: mid-replay rule upsert + late-data policy --------

# mid-day split (2024-01-15T12:00:00Z): no daily window boundary falls in
# (wm1, split], so "window_end <= wm1" cleanly separates windows fired
# under config v1 from windows fired after the mid-replay upsert.
SPLIT_TS_S = 1_705_320_000
RULE_UPDATE_LIMIT_V1 = "2500"
RULE_UPDATE_LIMIT_V2 = "3500"

LATE_RULE_LIMIT = "2500"
# injected into batch 2 only: (t_event_type, epoch_s, value). The first
# two sit DAYS below the run-1 watermark — the policy says they are
# dropped, and their huge values make any leak flip a window's hash. The
# in-delay straggler arrives out-of-order in batch 2 but ABOVE the
# watermark, so it MUST be counted (its window hasn't closed).
LATE_STRAGGLERS = [
    ("click", SPLIT_TS_S - 3 * 86_400 + 30, "99999.99"),
    ("view", SPLIT_TS_S - 5 * 86_400 + 30, "88888.88"),
]
IN_DELAY_STRAGGLER = ("click", SPLIT_TS_S - 1, "77.77")


def _split_stream_workdir(spark: SparkSession, sf_dir: str) -> tuple[str, int, int]:
    """Replay scaffold for the two-phase parity queries: the events table
    in Metric shape split at SPLIT_TS_S into batch1/ and batch2/ parquet
    directories plus a pusher template (see _events_stream_workdir for
    pusher mechanics). Each query invocation HARDLINKS these into its own
    src dir, so the expensive writes happen once per (process, sf_dir)."""
    import glob as _glob
    import os
    import tempfile

    from pyspark.sql import functions as F

    cached = _SPLIT_WORKDIR_CACHE.get(sf_dir)
    if cached is not None and os.path.isdir(os.path.join(cached[0], "batch1")):
        return cached
    work = tempfile.mkdtemp(prefix="split_cep_", dir=_pick_tmpfs())
    ev = events_to_metrics(load_table(spark, sf_dir, "events"))
    cut = F.timestamp_seconds(F.lit(SPLIT_TS_S))
    ev.filter(F.col("event_time") < cut).repartition(4).write.mode(
        "overwrite"
    ).parquet(os.path.join(work, "batch1"))
    ev.filter(F.col("event_time") >= cut).repartition(4).write.mode(
        "overwrite"
    ).parquet(os.path.join(work, "batch2"))
    max_ms = ev.agg(
        F.max((F.col("event_time").cast("double") * 1000).cast("long"))
    ).first()[0]
    _write_metric_file(
        os.path.join(work, "pusher.parquet"),
        [(
            (max_ms + 40 * 86_400_000) * 1000,
            {"t_event_type": "zz_flush", "t_user": "zz"},
            {"zzf": "0.00"},
        )],
    )
    # Stamp the staged mtimes ONCE, here: per-run code hardlinks these
    # files into its own src dir, and a hardlink SHARES the inode — a
    # per-run os.utime on a link would mutate the cached batch2/pusher
    # mtimes that every other run (and FileStreamSource's mtime-based
    # file ordering) observes. Fixed layout: batch1 at its write time
    # (= base), batch2 at base+5, pusher at base+10; runs only ever
    # utime files they themselves wrote.
    b1 = _glob.glob(os.path.join(work, "batch1", "part-*.parquet"))
    b2 = _glob.glob(os.path.join(work, "batch2", "part-*.parquet"))
    base = max(os.path.getmtime(p) for p in b1)
    for p in b2:
        os.utime(p, (base + 5, base + 5))
    os.utime(os.path.join(work, "pusher.parquet"), (base + 10, base + 10))
    _SPLIT_WORKDIR_CACHE[sf_dir] = (work, len(b1), len(b2))
    return work, len(b1), len(b2)


def _daily_sum_rule_doc(rule_id: int, limit: str) -> dict:
    return {
        "ruleId": rule_id, "windowType": "tumbling", "windowMinutes": 1440,
        "groupingKeyNames": ["t_event_type"],
        "aggregatorFunctionType": "SUM", "aggregateFieldName": "value",
        "limitOperatorType": ">", "limit": float(limit),
    }


def _run_two_phase_live(
    spark: SparkSession,
    sf_dir: str,
    rule_doc_v1: dict,
    rule_doc_v2: dict | None = None,
    extra_batch2_rows: list[tuple] | None = None,
) -> DataFrame:
    """Deterministic mid-replay CRUD: drain batch1 under rule config v1
    with an availableNow trigger, then mutate the rule store (and/or
    inject straggler rows) and drain batch2 + pusher RESUMING THE SAME
    CHECKPOINT — the sequential-drain equivalent of a live upsert
    between micro-batches, with none of the wall-clock races a
    mid-`start()` upsert would have. State (open windows, rule config,
    watermark) carries across the two drains through the checkpoint,
    exactly as a production restart does."""
    import glob as _glob
    import os
    import tempfile

    from pyspark.sql import functions as F

    from flink_cep_task_spark.schemas import METRIC_SCHEMA
    from flink_cep_task_spark.streaming.live import (
        LIVE_OUTPUT_SCHEMA,
        RuleFileStore,
        build_live_cep,
    )
    from flink_cep_task_spark.streaming.pipeline import (
        await_stream,
        metrics_stream_from_parquet,
    )

    work, n1, n2 = _split_stream_workdir(spark, sf_dir)
    run = tempfile.mkdtemp(prefix="run_", dir=work)
    src = os.path.join(run, "src")
    os.makedirs(src)
    for i, p in enumerate(sorted(_glob.glob(os.path.join(work, "batch1", "part-*.parquet")))):
        os.link(p, os.path.join(src, f"b1_{i:03d}.parquet"))
    store = RuleFileStore(os.path.join(run, "rules.json"))
    store.upsert(rule_doc_v1)
    ckpt = os.path.join(run, "ckpt")
    sink = os.path.join(run, "sink")

    def drain(n_files: int) -> None:
        metrics = metrics_stream_from_parquet(
            spark, src, METRIC_SCHEMA, max_files_per_trigger=n_files
        )
        out = build_live_cep(metrics, spark, store.path, watermark="1 minute")
        with _shuffle_partitions(spark, 8):
            q = (
                out.writeStream.format("parquet").option("path", sink)
                .option("checkpointLocation", ckpt).outputMode("append")
                .trigger(availableNow=True).start()
            )
            await_stream(q, 600)

    drain(n1)

    if rule_doc_v2 is not None:
        store.upsert(rule_doc_v2)
    # batch2/pusher mtimes were staged once in _split_stream_workdir
    # (batch1 < batch2 < pusher); hardlinking preserves them, and this
    # run never utimes a shared inode — only files it wrote itself.
    b2_parts = sorted(_glob.glob(os.path.join(work, "batch2", "part-*.parquet")))
    for i, p in enumerate(b2_parts):
        os.link(p, os.path.join(src, f"b2_{i:03d}.parquet"))
    n_extra = 0
    if extra_batch2_rows:
        d = os.path.join(src, "b2_injected.parquet")
        _write_metric_file(
            d,
            [
                (
                    ts_s * 1_000_000,
                    {"t_event_type": etype, "t_user": "9999"},
                    {"value": val},
                )
                for (etype, ts_s, val) in extra_batch2_rows
            ],
        )
        t2 = os.path.getmtime(b2_parts[0])
        os.utime(d, (t2, t2))
        n_extra = 1
    os.link(os.path.join(work, "pusher.parquet"), os.path.join(src, "zz_flush_1.parquet"))

    drain(n2 + n_extra + 1)

    if not _glob.glob(os.path.join(sink, "*.parquet")):
        return spark.createDataFrame([], LIVE_OUTPUT_SCHEMA)
    return spark.read.schema(LIVE_OUTPUT_SCHEMA).parquet(sink).filter(
        ~F.col("group_id").contains("zz_flush")
    )


def q_rule_update_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING parity query — MID-REPLAY RULE UPSERT (SURVEY quirk Q6
    made checkable): rule 8's limit changes 2500 → 3500 between the two
    drains. Windows the watermark closed under v1 stay gated at 2500;
    every window still open at the upsert fires under v2 — the live
    gate joins each closing window's partials with the rule table of
    its closing micro-batch (streaming/live.build_live_cep), which the
    oracle replays via the run-1 watermark cutoff. (The reference never re-delivers an updated
    rule to existing groups, CEPEngine.java:55-64; our next-batch
    semantics is the documented divergence.)"""
    return _run_two_phase_live(
        spark,
        sf_dir,
        _daily_sum_rule_doc(8, RULE_UPDATE_LIMIT_V1),
        rule_doc_v2=_daily_sum_rule_doc(8, RULE_UPDATE_LIMIT_V2),
    )


def q_late_data_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING parity query — LATE-DATA POLICY (T2/T3's principled
    replacement made explicit): batch 2 injects two stragglers DAYS below
    the run-1 watermark (dropped — their windows already fired; values
    chosen so any leak flips the hash) and one out-of-order row 1 s
    before the split but ABOVE the watermark (counted — its window is
    still open). The reference loses whole windows to wall-clock timers
    (TriggerCenter.java:22-26); the watermark policy drops exactly the
    beyond-delay rows, which the oracle replays literally."""
    return _run_two_phase_live(
        spark,
        sf_dir,
        _daily_sum_rule_doc(9, LATE_RULE_LIMIT),
        extra_batch2_rows=LATE_STRAGGLERS + [IN_DELAY_STRAGGLER],
    )


def _append_rollup_partials(batch_df, store: str, bid: int) -> None:
    """One micro-batch's contribution to the partial-aggregate store —
    EXACTLY-ONCE under retries: foreachBatch is at-least-once, so a
    plain append would double-count a replayed batch. Each batch id
    OVERWRITES its own partition directory (store/bid=N); a retry of
    batch N rewrites bid=N instead of appending a second copy, and the
    read-back sees the directory exactly once — the canonical
    batchId-idempotence pattern from the foreachBatch docs."""
    import os

    from pyspark.sql import functions as F

    rows = batch_df.filter(
        F.element_at("tags", "t_event_type") != "zz_flush"
    ).select(
        F.element_at("tags", "t_event_type").alias("event_type"),
        F.element_at("metrics", "value").alias("v"),
        (F.col("event_time").cast("long")).alias("ts_s"),
    )
    (
        rows.withColumn("day", F.expr("ts_s div 86400"))
        .groupBy("day", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("v").alias("n_vals"),
            F.sum("v").alias("sum_value"),
            F.min("v").alias("min_value"),
            F.max("v").alias("max_value"),
        )
        .write.mode("overwrite")
        .parquet(os.path.join(store, f"bid={bid}"))
    )


def q_rollup_stream_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING incremental-view maintenance: the day-partitioned
    partial-aggregate store (see plans/analytics.incremental_rollup)
    maintained UNDER STREAMING INGESTION — each micro-batch appends its
    own mergeable per-(day, event_type) partials in foreachBatch (no
    stateful operator, no watermark: partial aggregates commute, so the
    store is correct whatever the batch boundaries), and the final
    corpus rollup merges the store. Replays the events table in Metric
    shape across several micro-batches (maxFilesPerTrigger=2); the
    merged result must hash-match the one-shot batch oracle — the
    invariant that lets a streaming pipeline serve batch-identical
    rollups without ever rescanning history. Values ride as
    DECIMAL(18,2) (the Metric measure type), so partial sums are exact
    and merge order can't drift the float."""
    import os
    import tempfile
    import uuid

    from pyspark.sql import functions as F

    from flink_cep_task_spark.schemas import METRIC_SCHEMA
    from flink_cep_task_spark.streaming.pipeline import (
        await_stream,
        metrics_stream_from_parquet,
    )

    work, n_parts = _events_stream_workdir(spark, sf_dir, "rollup_maint_")
    run = tempfile.mkdtemp(prefix=f"rollup_run_{uuid.uuid4().hex[:8]}_", dir=work)
    store = os.path.join(run, "partials")

    metrics = metrics_stream_from_parquet(
        spark, os.path.join(work, "src"), METRIC_SCHEMA, max_files_per_trigger=2
    )

    with _shuffle_partitions(spark, 8):
        q = (
            metrics.writeStream.foreachBatch(
                lambda b, bid: _append_rollup_partials(b, store, bid)
            )
            .option("checkpointLocation", os.path.join(run, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        await_stream(q, 600)

    g = (
        spark.read.parquet(store)
        .groupBy("event_type")
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum("n_vals").cast("long").alias("n_vals"),
            F.sum("sum_value").alias("_sum"),
            F.min("min_value").alias("_min"),
            F.max("max_value").alias("_max"),
        )
    )
    return g.select(
        "event_type",
        "n_events",
        "n_vals",
        F.round(F.col("_sum").cast("double"), 2).alias("total_value"),
        F.col("_min").cast("double").alias("min_value"),
        F.col("_max").cast("double").alias("max_value"),
        F.round(F.col("_sum").cast("double") / F.col("n_vals"), 6).alias("avg_value"),
    )


# the rollup the Metric pipeline sees: measures ride as DECIMAL(18,2)
# (MEASURE_DECIMAL), so min/max/sum are over the cast value — exact and
# merge-order-free
STREAM_ROLLUP_SQL = """
SELECT event_type,
       count(*) AS n_events,
       count(v) AS n_vals,
       round(CAST(sum(v) AS DOUBLE), 2) AS total_value,
       CAST(min(v) AS DOUBLE) AS min_value,
       CAST(max(v) AS DOUBLE) AS max_value,
       round(CAST(sum(v) AS DOUBLE) / count(v), 6) AS avg_value
FROM (SELECT event_type, CAST(value AS DECIMAL(18,2)) AS v FROM events)
GROUP BY event_type
"""


_TS_S_SQL = "CAST(floor(epoch(ts)) AS BIGINT)"


def _rule_update_oracle_sql() -> str:
    """Daily tumbling SUM by event_type where the gating limit is v1 for
    windows the run-1 watermark closed (end <= max(batch1 ts) - 60s) and
    v2 for everything later — the exact cutoff the engine's checkpointed
    watermark draws."""
    ws = _fmul("ts_s", 86400)
    return f"""
WITH e AS (
  SELECT event_type, {_TS_S_SQL} AS ts_s, CAST(value AS DECIMAL(18,2)) AS v
  FROM events
), wm AS (
  SELECT max(ts_s) - 60 AS wm1 FROM e WHERE ts_s < {SPLIT_TS_S}
), w AS (
  SELECT event_type, {ws} AS ws, CAST(sum(v) AS DOUBLE) AS val
  FROM e GROUP BY event_type, {ws}
)
SELECT CAST(8 AS INTEGER) AS rule_id, concat('8_', event_type) AS group_id,
       ws AS window_start, ws + 86400 AS window_end,
       'SUM' AS agg_type, floor(val * 10000.0 + 0.5) / 10000.0 AS agg_value
FROM w, wm
WHERE val > CASE WHEN ws + 86400 <= wm.wm1
                 THEN CAST('{RULE_UPDATE_LIMIT_V1}' AS DOUBLE)
                 ELSE CAST('{RULE_UPDATE_LIMIT_V2}' AS DOUBLE) END
"""


def _late_data_oracle_sql() -> str:
    """Full recompute that includes the in-delay straggler and excludes
    exactly the beyond-watermark ones — the watermark policy in SQL."""
    ws = _fmul("ts_s", 86400)
    etype, ts_s, val = IN_DELAY_STRAGGLER
    return f"""
WITH e AS (
  SELECT event_type, {_TS_S_SQL} AS ts_s, CAST(value AS DECIMAL(18,2)) AS v
  FROM events
  UNION ALL
  SELECT '{etype}', {ts_s}, CAST('{val}' AS DECIMAL(18,2))
), w AS (
  SELECT event_type, {ws} AS ws, CAST(sum(v) AS DOUBLE) AS val
  FROM e GROUP BY event_type, {ws}
)
SELECT CAST(9 AS INTEGER) AS rule_id, concat('9_', event_type) AS group_id,
       ws AS window_start, ws + 86400 AS window_end,
       'SUM' AS agg_type, floor(val * 10000.0 + 0.5) / 10000.0 AS agg_value
FROM w
WHERE val > CAST('{LATE_RULE_LIMIT}' AS DOUBLE)
"""


# --- stream-stream interval-join parity (followed-by / negation) ---------

# time-ordered replay scaffold: 4 contiguous time-range files (mtime
# order = event-time order, so a MODEST watermark delay never drops a
# row) + one far-future pusher that flushes the left-outer join's
# retained unmatched rows. Same lifecycle as _WORKDIR_CACHE.
_FB_WORKDIR_CACHE: dict[str, tuple[str, int]] = {}
FB_WITHIN_S = 1800  # 'followed by within 30 minutes'


def _fb_stream_workdir(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    import glob as _glob
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    cached = _FB_WORKDIR_CACHE.get(sf_dir)
    if cached is not None and os.path.isdir(os.path.join(cached[0], "src")):
        return cached
    work = tempfile.mkdtemp(prefix="fb_join_", dir=_pick_tmpfs())
    src = os.path.join(work, "src")
    os.makedirs(src)
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .select(
            # second truncation so the stream's timestamp comparisons and
            # the oracle's integer epoch arithmetic see identical instants
            F.timestamp_seconds(F.col("ts").cast("long")).alias("event_time"),
            "user_id",
            "event_type",
        )
    )
    lo, hi = e.agg(
        F.min(F.col("event_time").cast("long")),
        F.max(F.col("event_time").cast("long")),
    ).first()
    if lo is None:
        # no click/purchase rows at all: write only the pushers so the
        # drain completes with an empty (oracle-matching) result instead
        # of a NoneType crash
        lo = hi = 0
    span = max(hi - lo + 1, 4)
    n_files = 0
    for i in range(4):
        a = lo + span * i // 4
        b = lo + span * (i + 1) // 4
        part = e.filter(
            (F.col("event_time").cast("long") >= a)
            & (F.col("event_time").cast("long") < b)
        )
        tmp = os.path.join(work, f"stage_{i}")
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        files = _glob.glob(os.path.join(tmp, "part-*.parquet"))
        if files:
            dest = os.path.join(src, f"f{i}.parquet")
            shutil.move(files[0], dest)
            os.utime(dest, (1_000_000 + i, 1_000_000 + i))
            n_files += 1
        shutil.rmtree(tmp, ignore_errors=True)
    # TWO pushers, 40 and 80 days past the data. Subtleties measured the
    # hard way: (a) stream-stream join state eviction — which is what
    # EMITS the left-outer variant's unmatched rows — runs only in
    # batches that process data; the trailing no-data batch advanced the
    # watermark but left 2 tail rows retained forever, so pusher 2's
    # batch is what applies pusher 1's watermark. (b) the join's
    # event-time watermark is min() over BOTH withWatermark operators,
    # and each sits ABOVE an event_type filter — a row that matches
    # neither type never reaches either watermark node. Each pusher file
    # therefore carries one click + one purchase under the reserved
    # user_id -1 (same timestamp, so b_time > a_time can't pair them;
    # the gated queries filter user_id >= 0 from the output).
    import pyarrow as pa
    import pyarrow.parquet as pq

    for j, days in enumerate((40, 80)):
        dest = os.path.join(src, f"zz_flush_{j}.parquet")
        t_us = (hi + days * 86_400) * 1_000_000
        pq.write_table(
            pa.Table.from_arrays(
                [
                    pa.array([t_us, t_us], type=pa.timestamp("us")),
                    pa.array([-1, -1], type=pa.int64()),
                    pa.array(["click", "purchase"], type=pa.string()),
                ],
                names=["event_time", "user_id", "event_type"],
            ),
            dest,
        )
        os.utime(dest, (1_000_010 + j, 1_000_010 + j))
    _FB_WORKDIR_CACHE[sf_dir] = (work, n_files + 2)
    return work, n_files + 2


def _drain_fb(spark: SparkSession, work: str, out: DataFrame, tag: str) -> DataFrame:
    import os
    import uuid

    from flink_cep_task_spark.streaming.pipeline import run_to_memory

    name = f"{tag}_{uuid.uuid4().hex[:8]}"
    with _shuffle_partitions(spark, 8):
        run_to_memory(out, name, "append", os.path.join(work, f"ckpt_{name}"), timeout_s=600)
    return spark.table(name)


def _fb_stream(spark: SparkSession, work: str) -> DataFrame:
    import os

    return (
        spark.readStream.schema(
            "event_time timestamp, user_id long, event_type string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(work, "src"))
    )


def q_followed_by_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING parity for the stream-stream INTERVAL JOIN — the CEP
    'A followed by B within T' as a live two-sided join
    (streaming/ops.followed_by_stream): clicks and purchases replayed
    over 4 time-ordered micro-batches, so cross-batch pairs (a click in
    batch k matched by a purchase in batch k+1) exercise the join state
    store, and the 45-minute watermark delay (> the 30-minute interval)
    bounds that state by (delay + interval), not history — the scaffold's
    time-ranged files guarantee no row ever arrives below the watermark,
    so the emitted multiset equals the batch interval join (the oracle)
    exactly."""
    from pyspark.sql import functions as F

    from flink_cep_task_spark.streaming.ops import followed_by_stream

    work, _n = _fb_stream_workdir(spark, sf_dir)
    out = followed_by_stream(_fb_stream(spark, work), watermark="45 minutes")
    return _drain_fb(spark, work, out, "fb_stream").filter(
        F.col("user_id") >= 0  # drop the watermark-pusher sentinel rows
    )


def q_not_followed_by_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING parity for CEP NEGATION — 'A *not* followed by B within
    T' (the abandoned-cart alert) as a watermarked LEFT OUTER interval
    join (streaming/ops.followed_by_timeout_stream). The reference cannot
    express absence of an event at all (its only trigger is an arriving
    metric, SURVEY §2); event-time timeout emission is the principled
    version: an unmatched click is emitted (then_ts NULL) only once the
    watermark proves no qualifying purchase can still arrive, which the
    scaffold's far-future pusher forces for every retained row before the
    drain ends. Matched clicks emit with their pair timestamps — the full
    multiset equals the batch LEFT JOIN oracle."""
    from pyspark.sql import functions as F

    from flink_cep_task_spark.streaming.ops import followed_by_timeout_stream

    work, _n = _fb_stream_workdir(spark, sf_dir)
    out = followed_by_timeout_stream(_fb_stream(spark, work), watermark="45 minutes")
    return _drain_fb(spark, work, out, "nfb_stream").filter(
        F.col("user_id") >= 0  # drop the watermark-pusher sentinel rows
    )


_FB_E_SQL = f"""
  SELECT user_id, event_type, {_TS_S_SQL} AS ts_s
  FROM events WHERE event_type IN ('click', 'purchase')
"""

FOLLOWED_BY_STREAM_SQL = f"""
WITH e AS ({_FB_E_SQL})
SELECT a.user_id, a.ts_s AS first_ts, b.ts_s AS then_ts
FROM e a JOIN e b ON a.user_id = b.user_id
WHERE a.event_type = 'click' AND b.event_type = 'purchase'
  AND b.ts_s > a.ts_s AND b.ts_s <= a.ts_s + {FB_WITHIN_S}
"""

NOT_FOLLOWED_BY_STREAM_SQL = f"""
WITH e AS ({_FB_E_SQL}),
c AS (SELECT user_id, ts_s FROM e WHERE event_type = 'click'),
p AS (SELECT user_id, ts_s FROM e WHERE event_type = 'purchase')
SELECT c.user_id, c.ts_s AS first_ts, p.ts_s AS then_ts
FROM c LEFT JOIN p ON c.user_id = p.user_id
  AND p.ts_s > c.ts_s AND p.ts_s <= c.ts_s + {FB_WITHIN_S}
"""


def q_quality_nb_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING curation scoring: every arriving document scored
    against the STORED corpus-fit NB quality classifier
    (plans/datapipe._nb_model_store) — the streaming member of the
    classifier stage, the shape a crawl-ingest pipeline runs: model fit
    offline, each micro-batch of new documents scored as it lands.

    Each micro-batch runs THE REAL BATCH OPERATOR
    (text.quality_nb_score_from_store) inside foreachBatch against the
    batch-read model — no stateful operator, no watermark (scoring is
    per-document, so batch boundaries can't change any result), with
    the bid=N overwrite idempotence pattern from rollup_stream_maintain
    making the sink exactly-once under foreachBatch's at-least-once
    retries. Replays the documents table across 4+ micro-batches via
    the shared _docs_stream_workdir scaffold; that scaffold also
    injects re-labeled duplicate copies for its dedup twin — they carry
    doc_id >= DOCS_STREAM_DUP_OFFSET (the scaffold asserts real ids
    stay below it) and are filtered here (this query scores the corpus
    replay, not the dup-injection fixture). The result must
    hash-match the one-shot batch oracle: the same from-scratch SQL
    replay as quality_nb_stored, scoring ALL documents."""
    import os
    import tempfile
    import uuid

    from pyspark.sql import functions as F

    from flink_cep_task_spark.operators.text import (
        nb_model_consts,
        quality_nb_score_from_store,
    )
    from flink_cep_task_spark.plans.datapipe import _nb_model_store
    from flink_cep_task_spark.streaming.pipeline import await_stream

    model = spark.read.parquet(_nb_model_store(spark, sf_dir))
    # collect the 2-row model consts ONCE before the stream starts —
    # inside score_batch they would re-run as a driver round-trip on
    # every micro-batch (6+ per replay)
    consts = nb_model_consts(model)
    weights = model.filter(F.col("kind") == "w").select("tok", "w")
    n_weights = weights.count()  # vocab gate input — once, not per batch
    work, n_parts = _docs_stream_workdir(spark, sf_dir)
    run = tempfile.mkdtemp(prefix=f"nbstream_{uuid.uuid4().hex[:8]}_", dir=work)
    sink = os.path.join(run, "scores")

    stream = (
        spark.readStream.schema("event_time timestamp, doc_id long, text string")
        .option("maxFilesPerTrigger", max(n_parts // 4, 1))
        .parquet(os.path.join(work, "src"))
    )

    def score_batch(bdf, bid: int) -> None:
        quality_nb_score_from_store(
            bdf.filter(F.col("doc_id") < DOCS_STREAM_DUP_OFFSET),
            model,
            consts=consts,
            weights=weights,
            n_weights=n_weights,
        ).write.mode("overwrite").parquet(os.path.join(sink, f"bid={bid}"))

    with _shuffle_partitions(spark, 8):
        q = (
            stream.writeStream.foreachBatch(score_batch)
            .option("checkpointLocation", os.path.join(run, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        await_stream(q, 600)

    return spark.read.parquet(sink).select("doc_id", "n_tokens", "log_odds", "keep")


def _nb_stream_sql() -> str:
    from flink_cep_task_spark.operators.dedup import INCREMENTAL_INCOMING_SOURCE
    from flink_cep_task_spark.operators.text import quality_nb_stored_sql

    return quality_nb_stored_sql(INCREMENTAL_INCOMING_SOURCE, score_where="TRUE")


NB_STREAM_SQL = _nb_stream_sql()


CEP_QUERIES: dict[str, tuple] = {
    # name -> (callable, oracle_sql | None)
    "cep_tumbling_sum": (_rule_query([R_TUMBLING_SUM]), cep_oracle_sql([R_TUMBLING_SUM])),
    "cep_sliding_avg": (_rule_query([R_SLIDING_AVG]), cep_oracle_sql([R_SLIDING_AVG])),
    "cep_global_max": (_rule_query([R_GLOBAL_MAX]), cep_oracle_sql([R_GLOBAL_MAX])),
    "cep_tumbling_min": (_rule_query([R_TUMBLING_MIN]), cep_oracle_sql([R_TUMBLING_MIN])),
    "cep_multikey_sum": (_rule_query([R_MULTIKEY_SUM]), cep_oracle_sql([R_MULTIKEY_SUM])),
    "cep_multi_rule": (_rule_query(ALL_RULES), cep_oracle_sql(ALL_RULES)),
    "cep_rule_lifecycle": (_rule_query(LIFECYCLE_CHANGELOG), cep_oracle_sql(LIFECYCLE_CHANGELOG)),
    "cep_jsonline_roundtrip": (q_jsonline_roundtrip, cep_oracle_sql([R_TUMBLING_SUM])),
    "cep_ungrouped_agg": (_rule_query([R_UNGROUPED_AVG]), cep_oracle_sql([R_UNGROUPED_AVG])),
    "cep_live_streaming": (q_live_streaming, cep_oracle_sql(LIVE_STREAMING_RULES)),
    "cep_streaming_windows": (q_streaming_windows, cep_oracle_sql(NATIVE_STREAMING_RULES)),
    "cep_rules_from_wire": (
        q_rules_from_wire,
        cep_oracle_sql(parse_rule_lines(WIRE_RULE_LINES)),
    ),
    "cep_first_event_tumbling": (q_first_event_tumbling, FIRST_EVENT_SQL),
    "cep_first_event_null_groups": (q_first_event_null_groups, FIRST_EVENT_NULL_SQL),
    # registered past the driver gate (registry.OVERFLOW_LAST); locally
    # oracle-gated like every other entry
    "cep_global_live": (q_global_live, cep_oracle_sql([R_GLOBAL_MAX])),
    "cep_timer_windows": (q_timer_windows, TIMER_WINDOWS_SQL),
    "cep_comparator_matrix": (
        _rule_query(COMPARATOR_RULES),
        cep_oracle_sql(COMPARATOR_RULES),
    ),
    # session-window extension, mixed with a tumbling rule to prove the
    # union-of-branches plan evaluates heterogeneous window types together
    "cep_session_sum": (
        _rule_query([R_SESSION_SUM, R_TUMBLING_MIN]),
        cep_oracle_sql([R_SESSION_SUM, R_TUMBLING_MIN]),
    ),
    "cep_many_rules": (_rule_query(MANY_RULES), cep_oracle_sql(MANY_RULES)),
    "dedup_stream_watermark": (q_dedup_stream_watermark, DEDUP_STREAM_SQL),
    "rule_update_live": (q_rule_update_live, _rule_update_oracle_sql()),
    "cep_late_data_policy": (q_late_data_policy, _late_data_oracle_sql()),
    "rollup_stream_maintain": (q_rollup_stream_maintain, STREAM_ROLLUP_SQL),
    "quality_nb_stream": (q_quality_nb_stream, NB_STREAM_SQL),
    "cep_followed_by_stream": (q_followed_by_stream, FOLLOWED_BY_STREAM_SQL),
    "cep_not_followed_by_stream": (
        q_not_followed_by_stream,
        NOT_FOLLOWED_BY_STREAM_SQL,
    ),
}
