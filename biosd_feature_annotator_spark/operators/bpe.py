"""Real byte-pair encoding, trained and applied in DataFrame algebra
(r4 VERDICT ask #3 — replaces the regex "BPE-ish" stand-in in
textstats.bpe_ish_token_count as the trained-tokenizer path).

Training is the classic loop — N iterations of (count adjacent symbol
pairs → take the argmax pair → merge it everywhere) — under the same
fixed-iteration discipline as pagerank: per iteration exactly ONE
map-side-combinable count aggregate over the (distinct-word, count)
vocabulary table plus one metadata-sized driver action (the single argmax
row). The vocabulary table, not the corpus, is what iterates — at 100 TB
the corpus is scanned once to build word counts and never again.

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

Determinism: the argmax tie-break is (count DESC, left symbol ASC, right
symbol ASC) — total order, no hash or partition dependence.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Frozen merge table: trained by tools/train_bpe.py on the sf0.01
# documents table (doc_id < 300, n_merges=32) — regenerate with that tool
# and it must reproduce this list exactly (the tool asserts it). The
# oracle SQL for bpe_tokenize_docs replays this same table, so changing
# it without retraining both sides is a correctness break.
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


def train_bpe_merges(
    docs: DataFrame,
    n_merges: int = 32,
    text_col: str = "text",
    min_pair_count: int = 2,
) -> list[tuple[str, str]]:
    """Train a BPE merge table with DataFrame algebra.

    corpus → (word, count) vocabulary (ONE corpus scan, one shuffle) →
    spaced-symbol sequences; then per iteration:
      1. adjacent-pair counts weighted by word count — explode +
         groupBy(a, b).sum — map-side combinable, vocabulary-sized;
      2. argmax pair via orderBy(cnt desc, a asc, b asc).limit(1) — the
         only driver action, one row;
      3. merge applied to every sequence (two literal replaces), new
         vocabulary persisted, previous iteration's cache released.
    Stops early when the best pair occurs < min_pair_count times.

    Scale shape: everything after the first scan operates on the DISTINCT
    WORD table (vocabulary-sized — millions of rows at 100 TB, not
    trillions), so 32 iterations cost 32 small aggregates, not 32 corpus
    scans."""
    from ..cache import scoped_persist, release

    words = docs.select(F.explode(norm_words(F.col(text_col))).alias("w"))
    vocab = words.groupBy("w").agg(F.count("*").alias("cnt"))
    seqs = scoped_persist(
        vocab.select(spaced_symbols(F.col("w")).alias("seq"), "cnt"),
        "bpe.train.seqs",
    )
    merges: list[tuple[str, str]] = []
    try:
        for _ in range(n_merges):
            toks = F.split(F.trim(F.col("seq")), " ")
            pairs = F.when(
                F.size(toks) >= 2,
                F.transform(
                    F.sequence(F.lit(0), F.size(toks) - 2),
                    lambda i: F.struct(
                        F.element_at(toks, i + 1).alias("a"),
                        F.element_at(toks, i + 2).alias("b"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
            counted = (
                seqs.select(F.explode(pairs).alias("p"), "cnt")
                .groupBy("p.a", "p.b")
                .agg(F.sum("cnt").alias("n"))
                .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
                .limit(1)
                .collect()
            )
            if not counted or counted[0]["n"] < min_pair_count:
                break
            a, b = counted[0]["a"], counted[0]["b"]
            merges.append((a, b))
            seqs = scoped_persist(
                seqs.select(
                    apply_merges(F.col("seq"), [(a, b)]).alias("seq"), "cnt"
                ),
                "bpe.train.seqs",
            )
    finally:
        release("bpe.train.seqs")
    return merges


# ------------------------------------------------------------------
# Pure-Python reference implementation (tests + the frozen-table trainer
# cross-check). Same semantics, character for character: str.replace is
# the same leftmost non-overlapping scan.
# ------------------------------------------------------------------

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
    from collections import Counter

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
