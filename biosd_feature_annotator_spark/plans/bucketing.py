"""Bucketed (co-located) table layout — the shuffle-free join path.

At 100 TB the dominant cost of a fact⋈fact join is the shuffle of both
sides. Spark's bucketed tables remove it: both tables are written
pre-hash-partitioned into the same number of buckets on the join key,
so the scan itself reports ``HashPartitioning(key, n)`` and the planner
drops BOTH Exchanges from the sort-merge join (and with ``sortBy`` the
per-bucket sort is already on disk). This module is the thin, tested
wrapper the pipeline uses; tests/test_bucketing.py asserts the
exchange-free plan, which is the entire point of the layout.

Works with the in-memory session catalog (no Hive metastore needed):
bucketing metadata lives in the catalog entry, data in plain parquet
under ``path``. On a real cluster the same call against an Iceberg
catalog becomes ``bucket(n, key)`` partition transforms; locally the
native layout demonstrates the identical plan property.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int,
    path: str | None = None,
    sort: bool = True,
) -> None:
    """Persist ``df`` as a bucketed parquet table registered as ``table``.

    ``sort=True`` additionally sorts each bucket file by the key, so a
    later sort-merge join needs neither an Exchange nor a Sort on this
    side (provided one file per bucket; use ``repartition(n_buckets,
    key)`` upstream to guarantee that when it matters).
    """
    w = (
        df.write.format("parquet")
        .mode("overwrite")
        .bucketBy(n_buckets, key)
    )
    if sort:
        w = w.sortBy(key)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table back through the catalog (reading the bare
    parquet path would lose the bucket metadata and with it the
    exchange-free plan)."""
    return spark.table(table)
