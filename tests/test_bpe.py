"""Trained BPE (operators/bpe.py): fixpoint-replace semantics, the
DataFrame trainer vs the pure-Python reference, and reproducibility of
the frozen merge table."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from biosd_feature_annotator_spark.operators import bpe

SF001 = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


def test_two_pass_replace_is_a_fixpoint():
    # one pass misses the second occurrence when the first consumed its
    # leading space; the second pass must clear it — in Python, DuckDB,
    # and (via the Spark tests below) Catalyst alike
    assert " a b a b ".replace(" a b ", " ab ") == " ab a b "
    assert bpe.py_apply_merges(" a b a b ", [("a", "b")]) == " ab ab "
    con = duckdb.connect()
    assert con.sql(
        "select replace(replace(' a b a b ', ' a b ', ' ab '),"
        " ' a b ', ' ab ')"
    ).fetchone()[0] == " ab ab "
    # documented variant semantics inside a self-adjacent run: fixpoint
    # of leftmost replace pairs (1,2) and (4,5), not strictly-greedy
    # (1,2)(3,4) — deterministic and engine-portable either way
    assert bpe.py_bpe_tokens("aaaaa", [("a", "a")]) == ["aa", "a", "aa"]
    # merged symbols never fake-match a spaced pattern (no inner space)
    # ' aa a b ' contains no ' aa b ' (the middle a intervenes), so the
    # second merge is a no-op here
    assert bpe.py_bpe_tokens("aaab", [("a", "a"), ("aa", "b")]) == [
        "aa", "a", "b"
    ]


def test_spark_trainer_matches_python_reference(spark):
    texts = [
        "low lower lowest low low",
        "new newer newest new",
        "wide wider widest wide wide wide",
        "low newer wide lowest",
    ]
    docs = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                                 "doc_id int, text string")
    got = bpe.train_bpe_merges(docs, n_merges=8)
    want = bpe.py_train_bpe(texts, n_merges=8)
    assert got == want and len(got) == 8


def test_spark_tokenizer_matches_python_reference(spark):
    texts = [
        "low lower lowest",
        "the quick brown fox",
        "aaaaa aaab",
        "",
    ]
    merges = bpe.py_train_bpe(texts, n_merges=6)
    docs = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                                 "doc_id int, text string")
    rows = docs.select(
        "doc_id", bpe.bpe_tokens(F.col("text"), merges).alias("toks")
    ).collect()
    for r in rows:
        assert r.toks == bpe.py_bpe_tokens(texts[r.doc_id], merges), (
            r.doc_id, r.toks
        )


def test_frozen_merge_table_reproducible():
    """BPE_MERGES_V1 must be exactly what training on its pinned corpus
    (sf0.01 documents, doc_id < 300, 32 merges) produces — the
    pure-Python reference retrains it in milliseconds; the Spark trainer
    is asserted equal to the reference by
    test_spark_trainer_matches_python_reference and tools/train_bpe.py."""
    con = duckdb.connect()
    texts = [
        r[0] for r in con.sql(
            f"select text from parquet_scan('{SF01}/documents.parquet') "
            "where doc_id < 300"
        ).fetchall()
    ]
    assert bpe.py_train_bpe(texts, n_merges=32) == bpe.BPE_MERGES_V1


def test_bpe_token_count_compresses(spark):
    """Trained merges strictly compress the corpus they were trained on:
    fewer bpe_tokens than characters, more than words."""
    d = spark.read.parquet(f"{SF001}/documents.parquet").limit(50)
    row = d.select(
        F.sum(F.size(bpe.bpe_tokens(F.col("text"), bpe.BPE_MERGES_V1))).alias("bpe"),
        F.sum(F.size(bpe.norm_words(F.col("text")))).alias("words"),
        F.sum(F.length(F.col("text"))).alias("chars"),
    ).collect()[0]
    assert row.words < row.bpe < row.chars
