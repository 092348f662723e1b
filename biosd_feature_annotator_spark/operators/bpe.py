"""Real byte-pair encoding applied in DataFrame algebra (r4 VERDICT
ask #3 — replaces the regex "BPE-ish" stand-in in
textstats.bpe_ish_token_count as the trained-tokenizer path).

The merge table is frozen (BPE_MERGES_V1). It was trained by the classic
loop — N iterations of (count adjacent symbol pairs → take the argmax
pair → merge it everywhere) — whose pure-Python reference lives in
tests/test_bpe.py.

Merge application is expressed on a SPACED-SYMBOL string (" l o w e r "):
merging pair (a, b) into ab is two rounds of literal string replacement
of " a b " with " ab ". Two rounds make the replacement a FIXPOINT:
a single leftmost non-overlapping pass can skip an occurrence only when
the immediately preceding occurrence consumed its leading space, and two
such misses are never adjacent, so the second pass always clears the
remainder (proof sketch in apply_merges). Symbols never contain spaces,
so a pattern " a b " can only match whole adjacent symbols. These are
exactly the semantics of `replace()` in Spark, DuckDB, and Python's
str.replace — the DuckDB oracle replays the identical merge table with
the identical nested-replace expression and must match hash-for-hash.

Note the deliberate variant semantics: inside a run of a self-adjacent
pair (merging (a,a) over "a a a a a") the fixpoint-of-leftmost-replace
pairs occurrences differently from strictly-greedy sequential BPE
([aa, a, aa] vs [aa, aa, a]). Both are valid deterministic BPE variants;
this one is chosen because every engine's replace() implements it
natively, making the tokenizer engine-portable by construction.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Frozen merge table: 32 merges trained on the sf0.01 documents table
# (doc_id < 300). The Python reference trainer in tests/test_bpe.py
# regenerates it, and test_frozen_merge_table_reproducible asserts that
# it reproduces this list exactly. The oracle SQL for bpe_tokenize_docs
# replays this same table, so changing it without retraining both sides
# is a correctness break.
BPE_MERGES_V1: list[tuple[str, str]] = [
    ("e", "r"),
    ("o", "w"),
    ("i", "n"),
    ("o", "r"),
    ("s", "t"),
    ("a", "l"),
    ("a", "t"),
    ("m", "er"),
    ("a", "r"),
    ("p", "ar"),
    ("a", "s"),
    ("as", "h"),
    ("h", "ash"),
    ("j", "o"),
    ("jo", "in"),
    ("a", "n"),
    ("c", "an"),
    ("f", "i"),
    ("fi", "l"),
    ("fil", "t"),
    ("filt", "er"),
    ("s", "can"),
    ("at", "c"),
    ("atc", "h"),
    ("b", "atch"),
    ("al", "l"),
    ("m", "all"),
    ("s", "mall"),
    ("l", "ow"),
    ("s", "low"),
    ("c", "u"),
    ("cu", "st"),
]


def norm_words(text_col) -> Column:
    """Whitespace-tokenized words of the normalized text (lower, trim,
    collapse runs) — same normalization as textstats.bigram_fluency so
    the two share a DuckDB twin."""
    norm = F.lower(F.trim(F.regexp_replace(text_col, r"\s+", " ")))
    return F.filter(F.split(norm, " "), lambda w: F.length(w) > 0)


def spaced_symbols(word_col) -> Column:
    """' l o w e r ' — every character a space-delimited symbol, with
    leading and trailing spaces so every symbol (including first/last)
    has both boundaries."""
    return F.concat(F.lit(" "), F.regexp_replace(word_col, "(.)", "$1 "))


def apply_merges(seq_col, merges: list[tuple[str, str]]) -> Column:
    """Apply a merge table in order to a spaced-symbol string column.

    Each merge is TWO literal replaces of " a b " → " ab ": one leftmost
    non-overlapping pass can miss an occurrence only right after a
    replaced one (its leading space was consumed by the match just
    replaced); the occurrence after a MISSED one keeps both spaces, so
    misses are never adjacent, and replacements never create new " a b "
    occurrences (ab ≠ a, ab ≠ b). Hence the second pass sees only
    isolated intact occurrences and clears them all — a true fixpoint in
    exactly two passes, identical in any engine whose replace() scans
    leftmost non-overlapping (Spark, DuckDB, Python)."""
    out = seq_col
    for a, b in merges:
        pat = F.lit(f" {a} {b} ")
        rep = F.lit(f" {a}{b} ")
        out = F.replace(F.replace(out, pat, rep), pat, rep)
    return out


def bpe_tokens(text_col, merges: list[tuple[str, str]]) -> Column:
    """array<string> of BPE tokens for a text column — fully per-row
    Catalyst (transform over the word array; no explode, no shuffle), so
    it composes into a 100 TB scan as a projection."""
    return F.flatten(
        F.transform(
            norm_words(text_col),
            lambda w: F.split(F.trim(apply_merges(spaced_symbols(w), merges)), " "),
        )
    )
