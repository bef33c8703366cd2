"""Regenerate QUERIES.md: one line per registered query — family, gate
position, and the first docstring sentence of its plan function. The
machine-checked inventory is the registry itself (tests/test_queries.py
runs every entry against its oracle); this file is the human-readable
catalog for someone deciding whether the engine covers their workload.

Run: python scripts/query_catalog.py
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def first_sentence(doc: str | None) -> str:
    if not doc:
        return ""
    text = " ".join(doc.strip().split())
    m = re.match(r"(.+?\.)(\s|$)", text)
    s = m.group(1) if m else text
    return s if len(s) <= 220 else s[:217] + "..."


def render() -> str:
    """QUERIES.md's content, from the registry and plan docstrings."""
    from flink_cep_task_spark.registry import DRIVER_GATE_CAP, all_queries

    queries = all_queries()
    lines = [
        "# QUERIES — registered surface\n",
        f"{len(queries)} queries, every one with a DuckDB oracle. The first",
        f"{DRIVER_GATE_CAP} are inside the driver's correctness-gate roster",
        "(CORRECTNESS_r*.json); the rest are oracle-checked locally by",
        "tests/test_queries.py at sf0.001 and by the driver-replica runs at",
        "sf0.01. Generated by scripts/query_catalog.py from plan docstrings.\n",
        "| # | query | gate | summary |",
        "|---|---|---|---|",
    ]
    for i, (name, (fn, sql)) in enumerate(queries.items()):
        target = fn
        # unwrap functools/closures from the datapipe _docs/_embs wrappers:
        # their closure carries the real operator function
        if not target.__doc__ and target.__closure__:
            for cell in target.__closure__:
                v = cell.cell_contents
                if callable(v) and getattr(v, "__doc__", None):
                    target = v
                    break
        gate = "driver" if i < DRIVER_GATE_CAP else "local"
        lines.append(f"| {i + 1} | `{name}` | {gate} | {first_sentence(target.__doc__)} |")
    return "\n".join(lines) + "\n"


def main() -> None:
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "QUERIES.md"
    )
    text = render()
    with open(out, "w") as fh:
        fh.write(text)
    print("QUERIES.md written")


if __name__ == "__main__":
    main()
