"""Small-file compaction (the OPTIMIZE / bin-pack table-maintenance op).

Streaming sinks append one file set per micro-batch; at 100 TB a
long-running incremental pipeline turns into millions of KB-sized
parquet files whose open/footer costs dominate scans. Compaction
rewrites a directory into ceil(bytes / target_bytes) files and swaps it
in place — content-preserving by construction and VERIFIED before the
swap (row count + order-insensitive bit_xor fingerprint of every
column), so a compaction can never silently corrupt a sink.

Scale notes: file listing and size summation are driver-side metadata
(same class as manifest reads); the rewrite is one shuffle-free
coalesce when shrinking (repartition when the target grows file
counts); the swap is dirswap.swap_in — two renames, with the previous
generation kept until the new one is in place, and a compaction cut
short mid-swap is rolled back by the next call. Partitioned layouts
compact per partition directory — call it per leaf (the leaves are
independent, so a campaign parallelizes or schedules them
incrementally)."""

from __future__ import annotations

import glob
import math
import os
import shutil

from pyspark.sql import SparkSession, functions as F

from .. import dirswap


def _dir_fingerprint(spark: SparkSession, path: str):
    df = spark.read.parquet(path)
    row_h = F.xxhash64(
        *[F.coalesce(F.col(c).cast("string"), F.lit("\0")) for c in sorted(df.columns)]
    )
    row = df.select(row_h.alias("_h")).agg(
        F.count("*").alias("n"), F.expr("bit_xor(_h)").alias("fp")
    ).collect()[0]
    return row.n, row.fp


def compact_parquet_dir(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 << 20,
    min_files_to_compact: int = 2,
) -> dict:
    """Compact one flat parquet directory. Returns a report dict:
    {skipped, files_before, files_after, bytes, rows} — skipped=True
    when the layout already meets the target."""
    dirswap.recover(path)
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, math.ceil(total / target_bytes))
    if len(files) < min_files_to_compact or len(files) <= n_out:
        return {"skipped": True, "files_before": len(files),
                "files_after": len(files), "bytes": total, "rows": None}

    n_before, fp_before = _dir_fingerprint(spark, path)
    tmp = dirswap.tmp_of(path)
    df = spark.read.parquet(path)
    (df.coalesce(n_out) if n_out < len(files) else df.repartition(n_out)).write.mode(
        "overwrite"
    ).parquet(tmp)

    # verify BEFORE the swap: identical row multiset or the compaction
    # refuses to replace the source
    n_after, fp_after = _dir_fingerprint(spark, tmp)
    if (n_before, fp_before) != (n_after, fp_after):
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(
            f"compaction verification failed for {path}: "
            f"({n_before},{fp_before}) != ({n_after},{fp_after})"
        )

    dirswap.swap_in(tmp, path)
    files_after = len(glob.glob(os.path.join(path, "*.parquet")))
    return {"skipped": False, "files_before": len(files),
            "files_after": files_after, "bytes": total, "rows": n_after}


def compact_partitioned(
    spark: SparkSession, root: str, target_bytes: int = 128 << 20
) -> list[dict]:
    """Compact every leaf partition directory under ``root`` (layout
    ``root/key=value/.../*.parquet``). Leaves are independent rewrites;
    each carries its own verify-then-swap. A leaf left as ``<leaf>.bak``
    by a swap that was cut short is recovered first, and swap scratch
    (``.bak``/``.tmp``) is never walked as a leaf."""
    pattern = os.path.join(glob.escape(root), "**", "*.bak")
    for bak in glob.glob(pattern, recursive=True):
        dirswap.recover(bak[: -len(".bak")])
    reports = []
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if not d.endswith((".bak", ".tmp"))]
        if any(f.endswith(".parquet") for f in filenames) and not dirnames:
            rep = compact_parquet_dir(spark, dirpath, target_bytes)
            rep["path"] = dirpath
            reports.append(rep)
    return reports
