"""Round-13 optimization pins.

1. The partitioned store writers REBALANCE by their partition column
   before the write (guide §6 "coalesce on write"): at test scale each
   partition directory must come out as ONE right-sized parquet file
   instead of one sliver per upstream task (measured 1282 files for
   6 MB of signature store before the fix), and the rebalance must not
   change a single row — content equality against the row derivation is
   asserted alongside the layout.

2. functions.jobs.run_parallel — the §2.6 driver-side job overlap used
   by every composed cycle's admission groups — is a strict barrier
   that preserves result order, skips None thunks in place, and
   propagates the first failure only after every thunk has settled
   (no admission write is ever left mid-flight when a sibling fails).
"""

from __future__ import annotations

import glob
import os
import threading
import time

import pytest
from pyspark.sql import functions as F

from flink_cep_task_spark.functions.jobs import run_parallel
from flink_cep_task_spark.operators import dedup as D
from flink_cep_task_spark.sources.tables import load_table
from tests.conftest import SF_DIR


def _parquet_files_per_partition(path: str, key: str) -> dict[str, int]:
    out = {}
    for d in os.listdir(path):
        if d.startswith(f"{key}="):
            out[d] = len(glob.glob(os.path.join(path, d, "*.parquet")))
    return out


def test_signature_store_write_is_rebalanced_one_file_per_source(
    spark, tmp_path
):
    docs = load_table(spark, SF_DIR, "documents").repartition(8)
    path = str(tmp_path / "sig")
    D.write_minhash_signature_store(docs, path)

    per_dir = _parquet_files_per_partition(path, "source")
    assert per_dir, "store wrote no source partitions"
    # one coalesced file per source directory at test scale — NOT one
    # sliver per upstream task (docs was forced to 8 partitions above,
    # so the pre-fix writer would emit up to 8 files per source)
    assert set(per_dir.values()) == {1}, per_dir

    # layout-only: the store's rows equal the row derivation exactly —
    # EVERY column (ADVICE r13: comparing only the key columns would let
    # a rebalance-induced corruption of the signature/shingle payloads
    # pass the "content is untouched" pin). The array-typed S column is
    # order-insensitive by construction (collect_list over a shuffle), so
    # compare it sorted.
    stored = spark.read.parquet(path)
    derived = D.minhash_signature_rows(docs)
    assert stored.count() == derived.count()
    assert set(stored.columns) == set(derived.columns)
    cols = sorted(derived.columns)

    def _norm(df):
        return df.select(*cols).withColumn("S", F.sort_array("S"))

    assert _norm(stored).exceptAll(_norm(derived)).count() == 0
    assert _norm(derived).exceptAll(_norm(stored)).count() == 0


def test_fingerprint_store_write_is_rebalanced(spark, tmp_path):
    docs = load_table(spark, SF_DIR, "documents").repartition(8)
    path = str(tmp_path / "fp")
    D.write_winnow_fingerprint_store(docs, path)
    per_dir = _parquet_files_per_partition(path, "source")
    assert per_dir and set(per_dir.values()) == {1}, per_dir


def test_run_parallel_orders_results_and_skips_none():
    assert run_parallel() == []
    # a None thunk runs nothing but HOLDS ITS POSITION in the results,
    # so positional unpacking against the argument list stays aligned
    # (ADVICE r13)
    assert run_parallel(None, lambda: 1, None, lambda: 2) == [None, 1, None, 2]
    assert run_parallel(None, lambda: 3) == [None, 3]
    # order is call order even when the first thunk finishes last
    def slow():
        time.sleep(0.2)
        return "a"

    assert run_parallel(slow, lambda: "b") == ["a", "b"]


def test_run_parallel_is_a_barrier_and_raises_first_error():
    settled = threading.Event()

    def failing():
        raise RuntimeError("boom")

    def slow_write():
        time.sleep(0.3)
        settled.set()
        return "done"

    with pytest.raises(RuntimeError, match="boom"):
        run_parallel(failing, slow_write)
    # the error surfaced only AFTER the sibling settled — nothing is
    # left mid-flight
    assert settled.is_set()


def test_run_parallel_overlaps_spark_actions(spark, tmp_path):
    # two independent writes land both outputs; results readable after
    df1 = spark.range(100).withColumn("x", F.col("id") * 2)
    df2 = spark.range(50).withColumn("y", F.col("id") + 1)
    p1, p2 = str(tmp_path / "a"), str(tmp_path / "b")
    run_parallel(
        lambda: df1.write.mode("overwrite").parquet(p1),
        lambda: df2.write.mode("overwrite").parquet(p2),
    )
    assert spark.read.parquet(p1).count() == 100
    assert spark.read.parquet(p2).count() == 50


def _tree_manifest(root):
    """{relpath: size} for files, {relpath: None} for dirs. Dotfiles are
    excluded: Hadoop's local ChecksumFileSystem mints hidden .crc
    sidecars on the driver-side copy path (and hides them from every
    listing), so they are copy-mechanism noise, not store content."""
    out = {}
    for dirpath, dirnames, filenames in os.walk(root):
        for d in dirnames:
            rel = os.path.relpath(os.path.join(dirpath, d), root)
            out[rel] = None
        for f in filenames:
            if f.startswith("."):
                continue
            p = os.path.join(dirpath, f)
            out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out


def test_fork_store_distributes_past_the_file_gate(spark, tmp_path):
    """Round-14 optimization pin (VERDICT r13 #2): past the file-count
    gate, _fork_store copies via a SPARK JOB over the listed files — the
    driver touches metadata only — and the forked tree is byte-identical
    to the source, empty partition dirs included. Below the gate the
    one-call driver copy is kept (a job round-trip would cost more than
    the copy)."""
    from flink_cep_task_spark.plans import datapipe as dp

    src = tmp_path / "store_src"
    # more files than the gate, uneven sizes, nested partition dirs
    for i in range(dp._FORK_DISTRIBUTE_MIN_FILES + 9):
        d = src / f"source=s{i % 7}"
        d.mkdir(parents=True, exist_ok=True)
        (d / f"part-{i:05d}.parquet").write_bytes(b"x" * (17 * (i + 1)))
    (src / "source=empty_epoch").mkdir()  # empty dir must survive
    (src / "_SUCCESS").write_bytes(b"")

    dst = tmp_path / "store_dst"
    mode = dp._fork_store(spark, str(src), str(dst))
    assert mode == "distributed"
    assert _tree_manifest(dst) == _tree_manifest(src)
    # spot-check bytes, not just sizes
    rel = "source=s0/part-00000.parquet"
    assert (dst / rel).read_bytes() == (src / rel).read_bytes()

    # below both gates: same result, driver-side single call
    small_src = tmp_path / "small_src"
    (small_src / "source=a").mkdir(parents=True)
    (small_src / "source=a" / "part-0.parquet").write_bytes(b"abc")
    small_dst = tmp_path / "small_dst"
    assert dp._fork_store(spark, str(small_src), str(small_dst)) == "driver"
    assert _tree_manifest(small_dst) == _tree_manifest(small_src)


def test_fork_store_unreachable_fallback_does_not_nest(spark, tmp_path, monkeypatch):
    """Past the gates, a side the executors cannot reach falls back to
    the driver copy — into dst itself, not dst/<basename(src)> (an
    existing directory dst makes FileUtil.copy nest the copy)."""
    from flink_cep_task_spark.plans import datapipe as dp

    monkeypatch.setattr(dp, "_executor_reachable", lambda uri: False)
    src, dst = tmp_path / "store_src", tmp_path / "store_dst"
    for i in range(dp._FORK_DISTRIBUTE_MIN_FILES + 1):  # past the file gate
        d = src / f"source=s{i % 3}"
        d.mkdir(parents=True, exist_ok=True)
        (d / f"part-{i:05d}.parquet").write_bytes(b"y" * (i + 1))
    assert dp._fork_store(spark, str(src), str(dst)) == "driver"
    assert _tree_manifest(dst) == _tree_manifest(src)


def test_fork_store_single_file_past_the_byte_gate(spark, tmp_path, monkeypatch):
    """A single-file src past the byte gate is copied onto dst as a file
    (the distributed path would target the destination directory)."""
    from flink_cep_task_spark.plans import datapipe as dp

    monkeypatch.setattr(dp, "_FORK_DISTRIBUTE_MIN_BYTES", 1)
    src, dst = tmp_path / "one.bin", tmp_path / "one_copy.bin"
    src.write_bytes(bytes(range(256)) * 4)
    dp._fork_store(spark, str(src), str(dst))
    assert dst.read_bytes() == src.read_bytes()
