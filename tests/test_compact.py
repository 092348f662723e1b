"""Compaction tests: content preservation is the whole contract."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from biosd_feature_annotator_spark.plans.compact import (
    compact_parquet_dir,
    compact_partitioned,
    _dir_fingerprint,
)


def _append_many(spark, path, n_appends=8):
    for i in range(n_appends):
        spark.range(i * 100, (i + 1) * 100).select(
            F.col("id"), (F.col("id") % 7).alias("v")
        ).coalesce(2).write.mode("append").parquet(path)


def test_compact_reduces_files_and_preserves_content(spark, tmp_path):
    p = str(tmp_path / "sink")
    _append_many(spark, p)
    before_files = len(glob.glob(os.path.join(p, "*.parquet")))
    assert before_files >= 8
    n0, fp0 = _dir_fingerprint(spark, p)

    rep = compact_parquet_dir(spark, p, target_bytes=1 << 30)
    assert not rep["skipped"]
    assert rep["files_after"] < before_files
    assert rep["files_after"] == 1  # tiny data, one target bin
    assert (n0, fp0) == _dir_fingerprint(spark, p)
    # no temp/backup leftovers
    assert not os.path.exists(p + ".tmp")
    assert not os.path.exists(p + ".bak")


def test_compact_crash_mid_swap_is_rolled_back(spark, tmp_path, crash_on_commit):
    """A crash between `path → .bak` and `tmp → path` fails the call
    loudly; the next compaction first rolls the old generation back, so
    the directory keeps its pre-compaction content."""
    p = str(tmp_path / "sink")
    _append_many(spark, p)
    before = _dir_fingerprint(spark, p)
    with pytest.raises(OSError, match="injected crash"):
        compact_parquet_dir(spark, p, target_bytes=1 << 30)
    assert not os.path.exists(p)  # the live dir is stranded as .bak

    rep = compact_parquet_dir(spark, p, target_bytes=1 << 30)
    assert not rep["skipped"] and rep["files_after"] == 1
    assert _dir_fingerprint(spark, p) == before
    assert not os.path.exists(p + ".tmp") and not os.path.exists(p + ".bak")


def test_compact_skips_already_compact_dir(spark, tmp_path):
    p = str(tmp_path / "one")
    spark.range(100).coalesce(1).write.parquet(p)
    rep = compact_parquet_dir(spark, p, target_bytes=1 << 30)
    assert rep["skipped"]


def test_compact_partitioned_walks_leaves(spark, tmp_path):
    root = str(tmp_path / "part")
    for _ in range(3):
        spark.range(200).select(
            (F.col("id") % 2).alias("k"), F.col("id")
        ).write.mode("append").partitionBy("k").parquet(root)
    reports = compact_partitioned(spark, root, target_bytes=1 << 30)
    assert len(reports) == 2  # k=0 and k=1 leaves
    assert all(not r["skipped"] for r in reports)
    got = spark.read.parquet(root).count()
    assert got == 600


def test_compact_partitioned_recovers_a_stranded_leaf(spark, tmp_path):
    """A leaf stranded as `k=0.bak` by a cut-short swap is rolled back
    before the walk, and the `.bak` name is never compacted as a leaf."""
    root = str(tmp_path / "part")
    for _ in range(3):
        spark.range(200).select(
            (F.col("id") % 2).alias("k"), F.col("id")
        ).write.mode("append").partitionBy("k").parquet(root)
    os.rename(os.path.join(root, "k=0"), os.path.join(root, "k=0.bak"))
    reports = compact_partitioned(spark, root, target_bytes=1 << 30)
    assert os.path.isdir(os.path.join(root, "k=0"))
    assert spark.read.parquet(root).count() == 600
    assert not [r["path"] for r in reports if ".bak" in r["path"]]
