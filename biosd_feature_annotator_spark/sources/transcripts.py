"""Transcript table source — the engine's analogue of the reference's
DB property-value scan (SURVEY.md §2.1 S1-S3: JPA/HQL paging over
ExperimentalPropertyValue rows in threading/AnnotatorService).

Where the reference paged ids with offset/limit windows, the engine reads a
partitioned columnar table and relies on Catalyst pushdown:

- conv_id scoping (S2) compiles to an IN filter that reaches the scan
  (partition pruning on a bucket(conv_id)-partitioned Iceberg table).
- sampling (S3) is Spark's Bernoulli sample — seed-pinned for determinism.
- the too-long-text guard (P3) is a JVM-side length predicate.

Input schema (mandated by BASELINE.json input_hint):
    conv_id string, turn_idx int, role string, text string,
    tool string, ts timestamp
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)


def read_transcripts(
    spark: SparkSession,
    path_or_table: str,
    conv_ids: list[str] | None = None,
    sample_frac: float | None = None,
    max_text_len: int | None = None,
) -> DataFrame:
    """Scan transcripts from an Iceberg table name (contains no '/'), a
    parquet path, a JSONL drop directory/file (*.jsonl → Spark's native
    JSON reader with the contract schema; FAILFAST, so a torn line fails
    the read; ISO-8601 ts; extra keys and non-.jsonl files in the drop
    are ignored), or a CSV drop directory/file (*.csv → Spark's native
    CSV reader with the contract schema; header tolerated, ISO-8601 ts).
    The scopings push down to the parquet/Iceberg scan; on the
    interchange formats (JSONL/CSV) they are plain post-scan filters —
    compact to columnar before analytical scans.

    max_text_len (SURVEY.md §2.2 P3, the reference's too-long-text guard):
    drops turns whose text exceeds N chars with a JVM-side length predicate
    — degenerate multi-MB turns (pasted blobs) never reach Arrow or the
    Python workers. NULL/blank text is KEPT (length(NULL) is NULL, which a
    plain <= filter would silently drop): those rows carry no extractable
    text but still produce structural triples."""
    def _dir_has(ext: str) -> bool:
        return (
            "/" in path_or_table
            and os.path.isdir(path_or_table)
            and any(f.endswith(ext) for f in os.listdir(path_or_table))
        )

    if path_or_table.endswith(".jsonl") or _dir_has(".jsonl"):
        df = (
            spark.read.schema(TRANSCRIPT_SCHEMA)
            .option("mode", "FAILFAST")
            .option("pathGlobFilter", "*.jsonl")
            .json(path_or_table)
        )
    elif path_or_table.endswith(".csv") or _dir_has(".csv"):
        df = (
            spark.read.schema(TRANSCRIPT_SCHEMA)
            .option("header", "true")
            .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss[.SSSSSS]")
            .option("mode", "PERMISSIVE")
            .csv(path_or_table)
        )
    elif "/" in path_or_table:
        df = spark.read.parquet(path_or_table)
    else:
        df = spark.read.table(path_or_table)
    # normalize to the contract schema (drops any physical layout columns
    # such as conv_bucket; cheap — column pruning keeps them unread unless
    # they are partition dirs)
    df = df.select(
        F.col("conv_id").cast("string"),
        F.col("turn_idx").cast("int"),
        F.col("role").cast("string"),
        F.col("text").cast("string"),
        F.col("tool").cast("string"),
        F.col("ts").cast("timestamp"),
    )
    if conv_ids is not None:
        df = df.where(F.col("conv_id").isin(conv_ids))
    if max_text_len is not None:
        df = df.where(
            F.col("text").isNull() | (F.length("text") <= max_text_len)
        )
    if sample_frac is not None:
        df = df.sample(fraction=sample_frac, seed=42)
    return df
