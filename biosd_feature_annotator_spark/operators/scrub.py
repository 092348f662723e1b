"""PII-pattern scrubbing — the redaction pass a training-data pipeline
runs before anything else sees raw text.

Pure Catalyst: a fixed, ordered chain of regexp_replace calls plus
regexp_extract_all match counts — no UDF, so the scrub composes into a
100 TB scan as a projection and stays inside whole-stage codegen.

The pattern set is deliberately RE2-compatible (no backreferences, no
lookaround): the same pattern strings run identically under Java regex
(Spark) and RE2 (DuckDB), which is what lets the oracle replay the
scrub verbatim. Order matters and is contractual: EMAIL first (its
character class would otherwise eat pieces of an already-redacted
token), then PHONE, then IP.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# (name, pattern, replacement) — ordered; see module docstring.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\b\d{3}[- ]\d{3,4}[- ]\d{4}\b", "<PHONE>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
]


def scrub_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, n_email, n_phone, n_ip, scrubbed) — match counts are taken on
    the PRE-scrub text per pattern stage (same staging as the replace
    chain, so counts and redactions always agree)."""
    t = F.col(text_col)
    counts = []
    staged = t
    for name, pat, rep in PII_PATTERNS:
        counts.append(
            F.coalesce(F.size(F.regexp_extract_all(staged, F.lit(pat), 0)), F.lit(0))
            .cast("long")
            .alias(f"n_{name}")
        )
        staged = F.regexp_replace(staged, pat, rep)
    return df.select(F.col(id_col), *counts, staged.alias("scrubbed"))


def synth_pii_texts(spark, n: int = 300) -> DataFrame:
    """Deterministic fixture: ids ≡ 0 (mod 3) carry no PII; the rest mix
    an email, an IP, and a phone derived from the id — pure Catalyst
    string algebra that a SQL oracle regenerates verbatim."""
    i = F.col("id")
    pii = F.concat(
        F.lit("reach user u"), i, F.lit("@mail"), F.pmod(i, F.lit(7)),
        F.lit(".org from 10."), F.pmod(i, F.lit(256)),
        F.lit("."), F.pmod(i * 7, F.lit(256)),
        F.lit("."), F.pmod(i, F.lit(100)),
        F.lit(" or call 555-"), F.pmod(i, F.lit(900)) + 100,
        F.lit("-"), F.pmod(i, F.lit(9000)) + 1000,
        F.lit(" about batch "), i,
    )
    clean = F.concat(F.lit("no contact info in record "), i)
    return spark.range(n).select(
        i.cast("long").alias("doc_id"),
        F.when(F.pmod(i, F.lit(3)) == 0, clean).otherwise(pii).alias("text"),
    )
