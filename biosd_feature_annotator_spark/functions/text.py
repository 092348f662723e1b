"""Catalyst-only text helpers (SURVEY.md §2.2 P1).

norm_text mirrors the reference's memo-key normalization
(AnnotatorResources trim+lower+collapse — reconstructed) as a pure
expression, so dedup/memo joins group on it without any Python."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def norm_text(col) -> Column:
    return F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))


def conversation_stats(df: DataFrame) -> DataFrame:
    """Per-conversation rollup used by manifests/metrics."""
    return df.groupBy("conv_id").agg(
        F.count("*").alias("n_turns"),
        F.min("ts").alias("t_start"),
        F.max("ts").alias("t_end"),
        F.sum(F.when(F.col("tool").isNotNull(), 1).otherwise(0)).alias("n_tool_turns"),
        F.round(F.avg(F.length("text")), 2).alias("avg_chars"),
    )
