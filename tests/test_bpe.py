"""Trained BPE (operators/bpe.py): fixpoint-replace semantics, the
Spark tokenizer vs the pure-Python reference, and reproducibility of
the frozen merge table by the pure-Python trainer."""

from __future__ import annotations

from collections import Counter

import duckdb
from pyspark.sql import functions as F

from biosd_feature_annotator_spark.operators import bpe

SF001 = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


# Pure-Python reference implementation: the same semantics as the Spark
# tokenizer, character for character (str.replace is the same leftmost
# non-overlapping scan), plus the trainer that regenerates BPE_MERGES_V1.

def py_apply_merges(seq: str, merges: list[tuple[str, str]]) -> str:
    for a, b in merges:
        pat, rep = f" {a} {b} ", f" {a}{b} "
        seq = seq.replace(pat, rep).replace(pat, rep)
    return seq


def py_bpe_tokens(text: str, merges: list[tuple[str, str]]) -> list[str]:
    out: list[str] = []
    for w in " ".join(text.lower().split()).split(" "):
        if not w:
            continue
        seq = " " + "".join(c + " " for c in w)
        out.extend(py_apply_merges(seq, merges).split())
    return out


def py_train_bpe(
    texts: list[str], n_merges: int = 32, min_pair_count: int = 2
) -> list[tuple[str, str]]:
    """N iterations of (count adjacent symbol pairs weighted by word
    count → take the argmax pair, ties broken by (count DESC, left ASC,
    right ASC) → merge it everywhere); stops early when the best pair
    occurs fewer than min_pair_count times."""
    wc: Counter[str] = Counter()
    for t in texts:
        wc.update(w for w in " ".join(t.lower().split()).split(" ") if w)
    seqs = {w: " " + "".join(c + " " for c in w) for w in wc}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pc: Counter[tuple[str, str]] = Counter()
        for w, seq in seqs.items():
            toks = seq.split()
            for i in range(len(toks) - 1):
                pc[(toks[i], toks[i + 1])] += wc[w]
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        if best[1] < min_pair_count:
            break
        merges.append(best[0])
        seqs = {w: py_apply_merges(s, [best[0]]) for w, s in seqs.items()}
    return merges


def test_two_pass_replace_is_a_fixpoint():
    # one pass misses the second occurrence when the first consumed its
    # leading space; the second pass must clear it — in Python, DuckDB,
    # and (via the Spark tests below) Catalyst alike
    assert " a b a b ".replace(" a b ", " ab ") == " ab a b "
    assert py_apply_merges(" a b a b ", [("a", "b")]) == " ab ab "
    con = duckdb.connect()
    assert con.sql(
        "select replace(replace(' a b a b ', ' a b ', ' ab '),"
        " ' a b ', ' ab ')"
    ).fetchone()[0] == " ab ab "
    # documented variant semantics inside a self-adjacent run: fixpoint
    # of leftmost replace pairs (1,2) and (4,5), not strictly-greedy
    # (1,2)(3,4) — deterministic and engine-portable either way
    assert py_bpe_tokens("aaaaa", [("a", "a")]) == ["aa", "a", "aa"]
    # merged symbols never fake-match a spaced pattern (no inner space)
    # ' aa a b ' contains no ' aa b ' (the middle a intervenes), so the
    # second merge is a no-op here
    assert py_bpe_tokens("aaab", [("a", "a"), ("aa", "b")]) == [
        "aa", "a", "b"
    ]


def test_spark_tokenizer_matches_python_reference(spark):
    texts = [
        "low lower lowest",
        "the quick brown fox",
        "aaaaa aaab",
        "",
    ]
    merges = py_train_bpe(texts, n_merges=6)
    docs = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                                 "doc_id int, text string")
    rows = docs.select(
        "doc_id", bpe.bpe_tokens(F.col("text"), merges).alias("toks")
    ).collect()
    for r in rows:
        assert r.toks == py_bpe_tokens(texts[r.doc_id], merges), (
            r.doc_id, r.toks
        )


def test_frozen_merge_table_reproducible():
    """BPE_MERGES_V1 must be exactly what training on its pinned corpus
    (sf0.01 documents, doc_id < 300, 32 merges) produces — the
    pure-Python reference retrains it in milliseconds. Print
    py_train_bpe's output to regenerate the table after a corpus or
    algorithm change, and update the bpe_tokenize_docs oracle with it."""
    con = duckdb.connect()
    texts = [
        r[0] for r in con.sql(
            f"select text from parquet_scan('{SF01}/documents.parquet') "
            "where doc_id < 300"
        ).fetchall()
    ]
    assert py_train_bpe(texts, n_merges=32) == bpe.BPE_MERGES_V1


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
