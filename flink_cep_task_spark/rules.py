"""Rule parsing, validation, and lifecycle compaction.

A *rule* is a query-as-data document: (grouping tags, window spec,
aggregate, threshold). Reference: Rule.java:12-24, wire sample
resources/rules:1, lifecycle handling PartitionEngine.java:54-63.

Design (SURVEY.md §3.2): rules live in a small DataFrame. Instead of the
reference's per-task mutable BroadcastState map, we *compact* the rule
changelog declaratively — last writer (highest seq) wins per rule_id,
DELETE tombstones drop the rule — and broadcast-join the compacted ACTIVE
set against the metric stream each batch. Rule updates therefore take
effect at the next micro-batch boundary, fixing reference quirk Q6 (stale
rule captured per group, CEPEngine.java:55-64).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field, fields
from decimal import ROUND_HALF_UP, Decimal, DecimalException

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_cep_task_spark.schemas import (
    AGG_TYPES,
    LIMIT_OPS,
    RULE_SCHEMA,
    RULE_STATES,
)


# the reference's wire accepts limit operators as ENUM NAMES — fastjson
# deserializes LimitOperatorType by valueOf, and the reference's own
# sample rule (resources/rules:1) says "GREATER" — while the symbolic
# forms come from LimitOperatorType.fromString (Rule.java:99-107, unused
# by the reference's ingest but part of its declared vocabulary).
# Rule.from_wire accepts both and normalizes to the symbol.
LIMIT_OP_NAMES = {
    "EQUAL": "=",
    "NOT_EQUAL": "!=",
    "GREATER_EQUAL": ">=",
    "LESS_EQUAL": "<=",
    "GREATER": ">",
    "LESS": "<",
}

# internal RULE_SCHEMA column -> reference wire field (Rule.java:12-24);
# `seq` is this engine's explicit changelog position
WIRE_NAMES = {
    "rule_id": "ruleId",
    "rule_state": "ruleState",
    "window_type": "windowType",
    "window_minutes": "windowMinutes",
    "window_slide_minutes": "windowSlideMinute",
    "grouping_keys": "groupingKeyNames",
    "agg_type": "aggregatorFunctionType",
    "agg_field": "aggregateFieldName",
    "limit_op": "limitOperatorType",
    "limit": "limit",
    "seq": "seq",
}


@dataclass(frozen=True)
class Rule:
    """Validated engine-internal rule (snake_case mirror of Rule.java:12-24)."""

    rule_id: int
    rule_state: str = "ACTIVE"
    window_type: str = "tumbling"  # tumbling | sliding | anything-else ⇒ global (CEPEngine.java:75-81)
    window_minutes: int | None = None
    window_slide_minutes: int | None = None
    grouping_keys: tuple[str, ...] = field(default_factory=tuple)
    agg_type: str = "SUM"
    agg_field: str = "value"
    limit_op: str = ">"
    limit: str = "0"  # decimal as string to stay exact
    seq: int = 0

    def __post_init__(self) -> None:
        if self.rule_state not in RULE_STATES:
            raise ValueError(f"bad ruleState {self.rule_state!r}")
        if self.rule_state == "DELETE":
            return  # tombstones need only rule_id + state
        if self.agg_type not in AGG_TYPES:
            raise ValueError(f"bad aggregatorFunctionType {self.agg_type!r}")
        if self.limit_op not in LIMIT_OPS:
            raise ValueError(f"bad limitOperatorType {self.limit_op!r}")
        def _pos(v) -> bool:
            return v is not None and v > 0

        if self.window_type == "tumbling" and not _pos(self.window_minutes):
            raise ValueError("tumbling rule requires a positive windowMinutes")
        if self.window_type == "sliding" and not (
            _pos(self.window_minutes) and _pos(self.window_slide_minutes)
        ):
            raise ValueError(
                "sliding rule requires positive windowMinutes and windowSlideMinute"
            )
        # engine extension beyond the reference's three types (CEPEngine.java:
        # 75-81): gap-based session windows; windowMinutes is the inactivity
        # gap. "session" is a first-class windowType on the wire too (the
        # reference never emits the keyword, so reference docs are
        # unaffected); truly-unknown strings still coerce to global.
        if self.window_type == "session" and not _pos(self.window_minutes):
            raise ValueError("session rule requires a positive windowMinutes (the gap)")

    @classmethod
    def from_wire(cls, doc: dict, seq: int = 0) -> "Rule":
        """Parse one reference-format JSON rule document (Rule.java:12-24) —
        the engine's ONE wire parser; every rule is validated here before
        any plan sees it (RuleFileStore validates on write).

        Lenient like the reference's fastjson parse (CEPTaskRunner.java:54-56):
        groupingKeyNames may be an array or a bare scalar; windowType other
        than tumbling/sliding/session means a global window
        (CEPEngine.java:75-81 — "session" is this engine's extension).
        An explicit "seq" in the doc overrides the caller's (file-based rule
        stores carry it; socket arrival order supplies it otherwise).

        TYPE discipline is strict (pinned by tests/test_rules_fuzz.py):
        integer fields (ruleId, windowMinutes, windowSlideMinute, seq) must
        be JSON integers in the rule table's INT32 (seq: INT64) range, the
        limit must be a finite number (or numeric string) representable
        as DECIMAL(18,4), and groupingKeyNames may not be an object — any
        violation raises ValueError and drops the WHOLE rule, like a
        fastjson type mismatch fails the whole document
        (CEPTaskRunner.java:54-56's parse-error→drop path). One deliberate
        divergence: numeric STRINGS for integer fields ("windowMinutes":
        "5") are dropped, not coerced — the reference never emits them.
        """

        if not isinstance(doc, dict):
            raise ValueError(f"rule document must be a JSON object, got {doc!r}")
        # explicit JSON null ≡ absent
        doc = {k: v for k, v in doc.items() if v is not None}
        if "ruleId" not in doc:
            raise ValueError("rule document has no ruleId")

        def as_str(v) -> str:
            # JSON-ish string form of a scalar
            if isinstance(v, bool):
                return "true" if v else "false"
            return str(v)

        def req_int(v, name: str, bits: int = 32):
            if v is None:
                return None
            if isinstance(v, bool) or not isinstance(v, int):
                raise ValueError(f"{name} must be a JSON integer, got {v!r}")
            if not -(2 ** (bits - 1)) <= v < 2 ** (bits - 1):
                raise ValueError(f"{name} {v!r} overflows int{bits}")
            return v

        def gk_elem(e) -> str:
            if isinstance(e, (list, dict)):
                # a container ELEMENT becomes its compact JSON text ('["a"]')
                return json.dumps(e, separators=(",", ":"))
            return as_str(e)

        gk_raw = doc.get("groupingKeyNames")
        if gk_raw is None:
            gk: list[str] = []
        elif isinstance(gk_raw, list):
            gk = [gk_elem(e) for e in gk_raw]
        elif isinstance(gk_raw, dict):
            raise ValueError("groupingKeyNames may not be an object")
        else:
            gk = [as_str(gk_raw)]
        wt = doc.get("windowType") or "global"
        if wt not in ("tumbling", "sliding", "session"):
            wt = "global"
        seq = req_int(doc.get("seq", seq), "seq", bits=64)
        lim = doc.get("limit", 0)
        if isinstance(lim, bool) or isinstance(lim, (list, dict)):
            raise ValueError(f"limit must be numeric, got {lim!r}")
        try:
            lim_d = Decimal(str(lim)).quantize(
                Decimal("0.0001"), rounding=ROUND_HALF_UP
            )
            # a NaN limit survives quantize and signals here
            in_range = abs(lim_d) < Decimal(10) ** 14
        except DecimalException as e:
            raise ValueError(f"bad limit {lim!r}") from e
        if not in_range:
            raise ValueError(f"limit {lim!r} out of DECIMAL(18,4) range")
        # field-name alias: the reference's sample rule spells the key
        # "LimitOperatorType" (capital L — fastjson smart-matches it);
        # enum NAMES normalize to their symbols (LIMIT_OP_NAMES)
        op = as_str(
            doc.get("limitOperatorType", doc.get("LimitOperatorType", ">"))
        )
        return cls(
            rule_id=req_int(doc["ruleId"], "ruleId"),
            rule_state=as_str(doc.get("ruleState", "ACTIVE")),
            window_type=wt,
            window_minutes=req_int(doc.get("windowMinutes"), "windowMinutes"),
            window_slide_minutes=req_int(
                doc.get("windowSlideMinute"), "windowSlideMinute"
            ),
            grouping_keys=tuple(gk),
            agg_type=as_str(doc.get("aggregatorFunctionType", "SUM")),
            agg_field=as_str(doc.get("aggregateFieldName", "value")),
            limit_op=LIMIT_OP_NAMES.get(op, op),
            limit=str(lim_d),
            seq=seq,
        )

    def to_wire(self) -> dict:
        """The canonical reference-wire document of this rule: symbolic
        operator, grouping keys as a list, the limit as its exact decimal
        string, an explicit seq, None fields left out.
        ``Rule.from_wire(r.to_wire()) == r`` for every rule from_wire
        returns."""
        doc = {WIRE_NAMES[f.name]: getattr(self, f.name) for f in fields(self)}
        doc["groupingKeyNames"] = list(self.grouping_keys)
        return {k: v for k, v in doc.items() if v is not None}

    def as_row(self) -> tuple:
        return (
            self.rule_id,
            self.rule_state,
            self.window_type,
            self.window_minutes,
            self.window_slide_minutes,
            list(self.grouping_keys),
            self.agg_type,
            self.agg_field,
            self.limit_op,
            Decimal(self.limit),
            self.seq,
        )


def compact_rule_list(rules: list["Rule"]) -> list["Rule"]:
    """Last seq wins per rule_id (the later list entry on a seq tie),
    then ACTIVE only (DELETE tombstones and PAUSEd rules drop). The ONE
    compaction of in-memory rule lists — the oracle generator, plan-shape
    routing, window-spec grouping and the batch plans' rule table all
    share it, so the engine and the oracle cannot keep different
    versions of a rule."""
    latest: dict[int, Rule] = {}
    for r in sorted(rules, key=lambda r: r.seq):
        latest[r.rule_id] = r
    return [r for r in latest.values() if r.rule_state == "ACTIVE"]


def parse_rule_lines(lines: list[str]) -> list[Rule]:
    """Parse JSON-lines rule documents; bad lines are dropped like the
    reference's parse-error→null→filter path (CEPTaskRunner.java:54-56,40)."""
    out: list[Rule] = []
    for i, line in enumerate(lines):
        line = line.strip()
        if not line:
            continue
        try:
            out.append(Rule.from_wire(json.loads(line), seq=i))
        except ValueError:  # json.JSONDecodeError included
            continue
    return out


def rules_df(spark: SparkSession, rules: list[Rule]) -> DataFrame:
    """Materialize rules as the internal rule-table DataFrame."""
    return spark.createDataFrame([r.as_row() for r in rules], RULE_SCHEMA)


def compact_rules(changelog: DataFrame) -> DataFrame:
    """Last-writer-wins compaction of a rule changelog, dropping DELETEs.

    Replaces BroadcastState upsert/remove (PartitionEngine.java:54-63):
    for each rule_id keep the highest-seq version; a DELETE tombstone
    removes the rule entirely. Pure DataFrame ops — at scale this is a tiny
    aggregation over the (small) rule table, never a bottleneck.
    """
    w = Window.partitionBy("rule_id").orderBy(F.col("seq").desc())
    return (
        changelog.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .filter(F.col("rule_state") != "DELETE")
    )

