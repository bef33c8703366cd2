"""Result check: the engine's rows against the DuckDB oracle.

``oracle.cep_oracle_sql`` reads an ``events`` view with the columns of the
engine's ``events`` table (ts, user_id, event_type, value); the view here
is built from the generated arrays, malformed lines left out.
"""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pandas as pd

from flink_cep_task_spark.oracle import cep_oracle_sql

KEY = ["rule_id", "group_id", "window_start", "window_end"]
COLUMNS = KEY + ["agg_type", "agg_value"]


def events_frame(ev, keep: np.ndarray | None = None) -> pd.DataFrame:
    """Well-formed generated events as the oracle's ``events`` table."""
    m = ~ev.bad if keep is None else keep & ~ev.bad
    return pd.DataFrame({
        "ts": pd.to_datetime(ev.ts_ms[m], unit="ms"),
        "user_id": np.char.add("u", ev.user[m].astype(str)),
        "event_type": np.char.add("e", ev.etype[m].astype(str)),
        "value": ev.value[m],
    })


def oracle_rows(events: pd.DataFrame, rules) -> pd.DataFrame:
    con = duckdb.connect()
    try:
        con.register("events", events)
        return con.execute(cep_oracle_sql(rules)).df()
    finally:
        con.close()


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[COLUMNS].copy()
    df["rule_id"] = df["rule_id"].astype("int64")
    df["group_id"] = df["group_id"].astype(str)
    # global windows have no bounds; -1 stands in so they join as keys
    for c in ("window_start", "window_end"):
        df[c] = pd.to_numeric(df[c]).fillna(-1).astype("int64")
    df["agg_value"] = df["agg_value"].astype("float64")
    return df


def mismatches(engine: pd.DataFrame, oracle: pd.DataFrame) -> int:
    """Missing + extra + differing rows; a duplicate engine row is extra."""
    e, o = _norm(engine), _norm(oracle)
    dup = int(e.duplicated(KEY).sum())
    e = e.drop_duplicates(KEY)
    j = o.merge(e, on=KEY, how="outer", suffixes=("_o", "_e"), indicator=True)
    missing = int((j["_merge"] == "left_only").sum())
    extra = int((j["_merge"] == "right_only").sum())
    both = j[j["_merge"] == "both"]
    differ = sum(
        1
        for ta, tb, va, vb in zip(
            both["agg_type_o"], both["agg_type_e"], both["agg_value_o"], both["agg_value_e"]
        )
        if ta != tb or not math.isclose(va, vb, rel_tol=1e-9, abs_tol=1e-9)
    )
    return missing + extra + differ + dup


def mismatch_ratio(engine: pd.DataFrame, oracle: pd.DataFrame, extra_failed: int = 0) -> float:
    """(missing + extra + differing rows + ``extra_failed``) / oracle rows."""
    return (mismatches(engine, oracle) + extra_failed) / max(1, len(oracle))
