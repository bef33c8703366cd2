"""Tests of the benchmark itself (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

from flink_cep_task_spark.plans.cep_queries import MANY_RULES  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _inputs(workload: str, seed: int) -> list[str]:
    return gen.file_texts(gen.generate(workload, seed, 6))


@pytest.mark.parametrize("workload", sorted(gen.PROFILES))
def test_same_seed_same_bytes_other_seed_other_bytes(workload):
    assert _inputs(workload, 7) == _inputs(workload, 7)
    assert _inputs(workload, 7) != _inputs(workload, 8)


@pytest.mark.parametrize("workload", sorted(gen.PROFILES))
def test_malformed_share_matches_profile(workload):
    ev = gen.generate(workload, 3, 40)
    assert abs(ev.bad.mean() - gen.PROFILES[workload].malformed) < 0.002


def test_metric_names_and_benchmark_file_agree():
    for name in [*run.END_TO_END, *run.PER_LAYER]:
        assert NAME.fullmatch(name), name
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(gen.PROFILES)


def test_host_speed_scales_wall_times_to_the_reference(tmp_path):
    from tracing import REF_CHUNK_S, HostSpeed

    # a probe file: a host half as fast as the reference for 10 s, then as
    # fast, and a last line cut short by the probe being killed
    rows = [f"{k * 0.05!r} {(2 if k < 200 else 1) * REF_CHUNK_S!r}" for k in range(400)]
    path = tmp_path / "calib.txt"
    path.write_text("\n".join(rows) + "\n20.0")
    speed = HostSpeed(str(path)).load()
    assert len(speed.t) == 400
    assert speed.scale(1.0, 9.0) == pytest.approx(0.5)
    assert speed.scale(11.0, 19.0) == pytest.approx(1.0)
    # shorter than MIN_CHUNKS chunks: the chunks around its middle
    assert speed.scale(5.0, 5.01) == pytest.approx(0.5)
    assert speed.scale(30.0, 31.0) == pytest.approx(1.0)


def test_one_corrupted_row_is_a_mismatch():
    ev = gen.generate("backfill_batch", 5)
    oracle = check.oracle_rows(check.events_frame(ev), MANY_RULES[:3])
    assert len(oracle) > 10
    engine = oracle.copy()
    assert check.mismatch_ratio(engine, oracle) == 0
    engine.loc[engine.index[0], "agg_value"] += 0.01
    assert check.mismatch_ratio(engine, oracle) > 0
    assert check.mismatch_ratio(oracle.iloc[1:], oracle) > 0
    assert check.mismatch_ratio(oracle, oracle, extra_failed=1) > 0
