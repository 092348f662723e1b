"""Text analysis for training-data pipelines: language ID, quality
scoring, token counting, document fingerprinting.

All four are pure Catalyst column expressions (no UDFs) — they compose
into any scan without leaving whole-stage codegen, which is what makes
them viable as a pre-filter pass over 100 TB of raw text.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import norm_text_col

# tiny per-language marker lexicons (n-gram/stopword heuristic). The point
# is the *plumbing* (argmax over per-language evidence, columnar); swap in
# real fastText-style models via a pandas UDF when available.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "for", "with"],
    "es": ["el", "la", "de", "que", "y", "los", "en", "un", "por"],
    "de": ["der", "die", "und", "das", "nicht", "ist", "ein", "mit", "zu"],
    "fr": ["le", "la", "les", "et", "des", "est", "une", "dans", "que"],
    "zh": ["的", "是", "在", "了", "和", "有", "我", "不", "他"],
}


def tokens_col(text) -> Column:
    return F.filter(F.split(norm_text_col(text), r"\s+"), lambda t: F.length(t) > 0)


def token_count(text) -> Column:
    """Whitespace token count; 0 for blank/NULL."""
    return F.coalesce(F.size(tokens_col(text)), F.lit(0)).cast("long")


def bpe_ish_token_count(text) -> Column:
    """Sub-word-ish token estimate: word pieces + digit runs + punctuation
    as separate tokens (a BPE-shaped regex, not a trained BPE). For a
    REAL trained merge table see operators/bpe.py (BPE_MERGES_V1 /
    bpe_tokens) — this regex form is kept as the zero-setup
    estimator and for the doc_bpe_tokens oracle entry."""
    return F.coalesce(
        F.size(F.regexp_extract_all(text, F.lit(r"([A-Za-z]{1,6}|\d+|[^\sA-Za-z\d])"), 1)),
        F.lit(0),
    ).cast("long")


def lang_scores(text) -> Column:
    """map<lang, matches>: per-language marker hits among the doc tokens."""
    toks = tokens_col(text)
    entries = [
        F.struct(
            F.lit(lang).alias("key"),
            F.size(F.array_intersect(toks, F.array(*[F.lit(m) for m in markers]))).alias("value"),
        )
        for lang, markers in sorted(LANG_MARKERS.items())
    ]
    return F.map_from_entries(F.array(*entries))


def detect_lang(text) -> Column:
    """argmax over per-language marker hits; deterministic tie-break =
    first language (lexicographic) reaching the max; 'und' when no marker
    hits at all.

    The token array (a regexp_replace + split — the dominant per-row cost)
    is bound ONCE as a higher-order-function lambda variable instead of
    being re-evaluated per language: the old when-chain re-ran tokens_col
    5×/row because Catalyst does not reliably CSE across a when cascade.
    The fold's accumulator is likewise a lambda variable, so referencing
    it in both branches of the comparison costs nothing."""
    init = F.struct(F.lit(0).alias("score"), F.lit("und").alias("lang"))

    def entries(tk) -> Column:
        return F.array(*[
            F.struct(
                F.size(
                    F.array_intersect(
                        tk, F.array(*[F.lit(m) for m in LANG_MARKERS[lang]])
                    )
                ).alias("score"),
                F.lit(lang).alias("lang"),
            )
            for lang in sorted(LANG_MARKERS)
        ])

    best = F.aggregate(
        F.array(tokens_col(text)),  # single-element wrapper: binds toks once
        init,
        lambda acc, tk: F.aggregate(
            entries(tk),
            acc,
            lambda b, x: F.when(x["score"] > b["score"], x).otherwise(b),
        ),
    )
    return best["lang"]


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword / repetition features + a composite
    quality score in [0,1]. Thresholds are deliberately simple and
    documented — the value is the columnar shape."""
    t = F.col(text_col)
    n_chars = F.coalesce(F.length(t), F.lit(0))
    n_toks = token_count(t)
    toks = tokens_col(t)
    n_distinct = F.coalesce(F.size(F.array_distinct(toks)), F.lit(0))
    punct = F.coalesce(F.length(F.regexp_replace(t, r"[^!-/:-@\[-`{-~]", "")), F.lit(0))
    stop_hits = F.size(
        F.array_intersect(toks, F.array(*[F.lit(m) for m in LANG_MARKERS["en"]]))
    )
    mean_tok_len = F.when(n_toks > 0, (n_chars - (n_toks - 1)) / n_toks).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, punct / n_chars).otherwise(F.lit(0.0))
    distinct_ratio = F.when(n_toks > 0, n_distinct / n_toks).otherwise(F.lit(0.0))
    score = (
        F.when(n_toks < 5, 0.0).otherwise(1.0) * 0.25
        + F.when((mean_tok_len >= 2.5) & (mean_tok_len <= 12), 1.0).otherwise(0.0) * 0.25
        + F.when(punct_ratio <= 0.2, 1.0).otherwise(0.0) * 0.2
        + F.least(distinct_ratio * 2, F.lit(1.0)) * 0.3
    )
    return df.select(
        "*",
        n_chars.alias("q_chars"),
        n_toks.alias("q_tokens"),
        F.round(mean_tok_len, 6).alias("q_mean_tok_len"),
        F.round(punct_ratio, 6).alias("q_punct_ratio"),
        F.round(distinct_ratio, 6).alias("q_distinct_ratio"),
        F.round(score, 6).alias("q_score"),
    )


def repetition_features(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition quality filters (Rae et al. §A1.1), the
    standard pre-training text gates missing between length/punct
    heuristics and the corpus-level dedup ops:

    - word_rep_frac: 1 − distinct_tokens / n_tokens — repeated-word mass;
    - top2_cov: fraction of tokens covered by the single most frequent
      bigram (2 · max bigram count / n_tokens);
    - dup3_frac: fraction of 3-gram POSITIONS whose 3-gram occurs more
      than once in the document.

    Scale shape: all three are PER-ROW Catalyst array algebra — token and
    gram arrays via transform/sequence, per-gram counts via a
    filter-inside-transform over the distinct grams (O(len²) in the
    document's own length, length-bounded, zero shuffle) — so the gate
    composes into a 100 TB scan as a projection, unlike a
    groupBy-per-document formulation which would shuffle the corpus."""
    toks = F.split(
        F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " "))), " "
    )
    n = F.size(toks)

    def grams(k: int) -> Column:
        return F.when(
            n >= k,
            F.transform(
                F.sequence(F.lit(0), n - k),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(toks, i + j + 1) for j in range(k)]
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    def max_count(arr: Column) -> Column:
        # count of the most frequent element; 0 on empty
        return F.coalesce(
            F.array_max(
                F.transform(
                    F.array_distinct(arr),
                    lambda g: F.size(F.filter(arr, lambda x: x == g)),
                )
            ),
            F.lit(0),
        )

    g2, g3 = grams(2), grams(3)
    dup3_positions = F.aggregate(
        F.transform(
            F.array_distinct(g3),
            lambda g: F.size(F.filter(g3, lambda x: x == g)),
        ),
        F.lit(0),
        lambda acc, c: acc + F.when(c >= 2, c).otherwise(F.lit(0)),
    )
    return docs.select(
        F.col(id_col),
        n.cast("long").alias("n_tokens"),
        F.round(
            F.when(n > 0, 1.0 - F.size(F.array_distinct(toks)) / n)
            .otherwise(F.lit(0.0)),
            6,
        ).alias("word_rep_frac"),
        F.round(
            F.when(n > 0, 2.0 * max_count(g2) / n).otherwise(F.lit(0.0)), 6
        ).alias("top2_cov"),
        F.round(
            F.when(
                F.size(g3) > 0, dup3_positions / F.size(g3)
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("dup3_frac"),
    )


def doc_fingerprint(text) -> Column:
    """Stable content fingerprint of the normalized text (md5 hex)."""
    return F.md5(norm_text_col(text))


def winnow_fingerprints(text, k: int = 8, keep: int = 4, hasher: str = "xx") -> Column:
    """Winnowing-style robust fingerprint: bottom-`keep` hashes over the
    char k-gram set — stable under small edits. Pure array algebra.
    hasher="md5" swaps in the engine-portable kernel (dedup.hash64) so a
    SQL oracle can recompute the identical fingerprint."""
    from .dedup import hash64

    t = norm_text_col(text)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(t) - k + 1, F.lit(1))),
        lambda i: hash64(F.substring(t, i, F.lit(k)), hasher=hasher),
    )
    return F.slice(F.array_sort(F.array_distinct(grams)), 1, keep)


def bigram_fluency(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus-bigram language-model fluency score per document — the
    model-free stand-in for perplexity filtering in a training-data
    pipeline: mean log P(w_i | w_{i-1}) under an add-1-smoothed bigram
    model fitted on the SAME corpus. Natural text scores high; shuffled
    or boilerplate-stuffed text scores low.

    P(w2|w1) = (c(w1,w2) + 1) / (c(w1·) + V), with c(w1·) the
    bigram-head count and V the distinct-continuation vocabulary.

    Scale + determinism shape:
    - bigrams WITH multiplicity via pure array algebra (two selects: a
      generator and a struct projection must not share one — field
      names drop), then two map-side-combinable count aggregates and
      one shuffle join on the bigram key;
    - each bigram's log-prob is quantized to integer MICRO-units
      (round(ln(p)*1e6) as long) and summed as exact longs, so the
      per-doc sum is independent of float addition order — the property
      a plain sum(double) cannot give across engines or partitionings;
      the quantization bias (≤5e-7 per bigram) is far below any
      filtering threshold this score feeds.
    """
    toks = F.split(
        F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " "))), " "
    )
    grams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.struct(
                F.element_at(toks, i + 1).alias("w1"),
                F.element_at(toks, i + 2).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    staged = docs.select(F.col(id_col).alias("doc"), grams.alias("gs"))
    b = staged.select("doc", F.explode("gs").alias("g")).select(
        "doc", F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2")
    )
    # NOT persisted (r6, measured 2.0 s -> 0.66 s at sf0.1): the four
    # consumers hang off one action and the bigram derivation is pure
    # array algebra over the scan — recomputing it in the branches that
    # cannot share an exchange is cheaper than the cache round-trip.
    bc = b.groupBy("w1", "w2").agg(F.count("*").alias("cnt_b"))
    # unigram counts and V re-aggregate the VOCABULARY-sized bigram
    # counts instead of re-deriving the corpus-sized bigram stream
    # (r6, the train_langid trick): cnt_u = Σ_w2 cnt_b exactly, V =
    # distinct w2 across bigrams — both consumers share bc's exchange
    # via ReuseExchange.
    uc = bc.groupBy("w1").agg(F.sum("cnt_b").alias("cnt_u"))
    v = bc.agg(F.count_distinct("w2").alias("v"))
    # per-DISTINCT-bigram log-prob first (vocabulary-sized join chain),
    # then ONE attach join to the corpus-sized bigram stream (r6): the
    # old form joined the stream against bc on (w1, w2) and again
    # against uc on (w1) — two full-stream exchanges the lp-table
    # precompute removes (the attach broadcasts when the vocabulary
    # fits, and the planner keeps real stats either way).
    lp = (
        bc.join(uc, "w1")
        .crossJoin(F.broadcast(v))
        .select(
            "w1", "w2",
            F.round(
                F.log(
                    (F.col("cnt_b") + F.lit(1.0))
                    / (F.col("cnt_u") + F.col("v"))
                )
                * F.lit(1000000.0)
            ).cast("long").alias("lp_micro"),
        )
    )
    scored = b.join(lp, ["w1", "w2"])
    return scored.groupBy("doc").agg(
        F.count("*").alias("n_bigrams"),
        F.round(
            (F.sum("lp_micro").cast("double") / F.lit(1000000.0))
            / F.count("*"),
            4,
        ).alias("fluency"),
    ).select(F.col("doc").alias(id_col), "n_bigrams", "fluency")


# ------------------------------------------------------- trained langid

def char_ngrams(text, n: int = 3) -> Column:
    """Array of character n-grams (WITH multiplicity) of the normalized
    text — pure array algebra (sequence of start offsets → substr), no
    UDF. Texts shorter than n emit an empty array (the descending-
    sequence guard, same as word_shingles)."""
    t = norm_text_col(text)
    return F.when(
        F.length(t) >= n,
        F.transform(
            F.sequence(F.lit(1), F.length(t) - (n - 1)),
            lambda i: t.substr(i, F.lit(n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def train_langid(
    docs: DataFrame, lang_col: str = "lang", text_col: str = "text",
    n: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """Train a char-n-gram naive-Bayes language identifier IN DATAFRAME
    ALGEBRA (the same train-distributed discipline as the BPE merge
    table and the IVF k-means centroids — detect_lang's hand-written
    marker lexicons are the untrained stand-in this replaces when
    labeled data exists).

    Returns (profiles, defaults):
    - profiles (lang, gram, lp_micro): add-1-smoothed log P(gram|lang)
      quantized to integer micro-units — round(ln((c+1)/(N_lang+V))·1e6)
      as long, the bigram_fluency kernel, so scoring sums EXACT longs
      (no float-order dependence across partitions or engines);
    - defaults (lang, lp0_micro, n_lang): the unseen-gram penalty
      ln(1/(N_lang+V)) per language, same quantization.

    One explode + two map-side-combinable counts; V is the corpus-wide
    distinct-gram vocabulary (one scalar, broadcast). Profile size is
    bounded by the gram vocabulary × languages — model state, not data
    state, exactly like the centroid and merge tables."""
    g = docs.select(
        F.col(lang_col).alias("lang"),
        F.explode(char_ngrams(F.col(text_col), n)).alias("gram"),
    )
    counts = g.groupBy("lang", "gram").agg(F.count("*").alias("c"))
    # totals and V re-aggregate the VOCABULARY-sized counts relation
    # instead of re-scanning the corpus-sized gram stream (r6): n_lang =
    # Σ_gram c exactly, V = distinct grams across languages — all three
    # consumers now share the one (lang, gram) exchange via
    # ReuseExchange, so the explode runs once and the former scoped
    # persist of the gram stream is unnecessary.
    totals = counts.groupBy("lang").agg(F.sum("c").alias("n_lang"))
    v = counts.agg(F.count_distinct("gram").alias("v"))
    profiles = (
        counts.join(totals, "lang")
        .crossJoin(F.broadcast(v))
        .select(
            "lang", "gram",
            F.round(
                F.log((F.col("c") + F.lit(1.0)) / (F.col("n_lang") + F.col("v")))
                * F.lit(1000000.0)
            ).cast("long").alias("lp_micro"),
        )
    )
    defaults = (
        totals.crossJoin(F.broadcast(v))
        .select(
            "lang",
            F.round(
                F.log(F.lit(1.0) / (F.col("n_lang") + F.col("v")))
                * F.lit(1000000.0)
            ).cast("long").alias("lp0_micro"),
            "n_lang",
        )
    )
    return profiles, defaults


def langid_predict(
    docs: DataFrame, profiles: DataFrame, defaults: DataFrame,
    id_col: str = "doc_id", text_col: str = "text", n: int = 3,
) -> DataFrame:
    """Classify each document with the trained profiles: score(d, L) =
    Σ_grams cnt·lp_micro(g|L) + (unseen grams)·lp0_micro(L), argmax L
    with a deterministic tie-break (score desc, lang asc). Documents
    too short to produce a gram predict 'und'.

    Scale shape: per-doc gram counts (one combinable shuffle) → join
    the profile (model-sized, broadcastable) → per-(doc, lang) long
    sums → the full doc×lang grid via a broadcast cross join with the
    tiny language list (so zero-match languages still score) → one
    row_number window per doc. All score arithmetic is exact longs."""
    from pyspark.sql import Window

    # dg has exactly ONE downstream consumer (the profile join into
    # `matched`) — no persist: a cache write with zero plan reuse would
    # be pure overhead at corpus scale (train_langid's gram stream, by
    # contrast, feeds three branches and is persisted)
    dg = (
        docs.select(
            F.col(id_col).alias("doc"),
            F.explode(char_ngrams(F.col(text_col), n)).alias("gram"),
        )
        .groupBy("doc", "gram")
        .agg(F.count("*").alias("cnt"))
    )
    # totals from the docs themselves (size of the gram array), not from
    # dg: a gram-less doc has no dg rows and would vanish from the
    # output instead of predicting 'und'
    totals = docs.select(
        F.col(id_col).alias("doc"),
        F.size(char_ngrams(F.col(text_col), n)).cast("long").alias("n_total"),
    )
    matched = (
        dg.join(F.broadcast(profiles), "gram")
        .groupBy("doc", "lang")
        .agg(
            F.sum(F.col("cnt") * F.col("lp_micro")).alias("m_sum"),
            F.sum("cnt").alias("m_cnt"),
        )
    )
    langs = defaults.select("lang", "lp0_micro")
    grid = totals.crossJoin(F.broadcast(langs))
    scored = grid.join(matched, ["doc", "lang"], "left").select(
        "doc", "lang", "n_total",
        (
            F.coalesce(F.col("m_sum"), F.lit(0))
            + (F.col("n_total") - F.coalesce(F.col("m_cnt"), F.lit(0)))
            * F.col("lp0_micro")
        ).alias("score_micro"),
    )
    w = Window.partitionBy("doc").orderBy(F.desc("score_micro"), F.asc("lang"))
    best = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("doc").alias(id_col),
            F.when(F.col("n_total") > 0, F.col("lang"))
            .otherwise(F.lit("und")).alias("lang_pred"),
            F.when(F.col("n_total") > 0, F.col("score_micro"))
            .otherwise(F.lit(0)).alias("score_micro"),
        )
    )
    return best


def vocab_coverage(
    docs: DataFrame,
    vocab: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_token_col: str = "token",
) -> DataFrame:
    """Per-document tokenizer-vocabulary coverage: how much of each doc
    a fixed vocabulary (e.g. training.vocab_top's cut, or a tokenizer's
    merge-table alphabet) actually covers — the fit report run before
    committing a tokenizer to a corpus, and the OOV-rate filter of a
    curation pipeline (drop docs the tokenizer would shred).

    Returns one row per document with ≥ 1 token: (id_col, n_tokens,
    n_in_vocab, oov_micro) where oov_micro = (n_tokens − n_in_vocab) ·
    1e6 // n_tokens, floored-exact.

    Scale shape: explode to tokens, LEFT join the vocabulary —
    broadcast, because a vocabulary is KB-to-MB-sized by construction —
    then one map-side-combinable per-doc count; no shuffle touches the
    token relation beyond the final doc-keyed aggregation. Token skew
    ("the" everywhere) is irrelevant to a broadcast probe."""
    toks = docs.select(
        F.col(id_col),
        F.explode(F.split(norm_text_col(F.col(text_col)), " "))
        .alias("_tok"),
    ).where(F.length("_tok") > 0)
    v = vocab.select(
        F.col(vocab_token_col).alias("_tok")
    ).dropDuplicates().withColumn("_in", F.lit(1))
    per = (
        toks.join(F.broadcast(v), "_tok", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.coalesce("_in", F.lit(0))).alias("n_in_vocab"),
        )
    )
    dec = "decimal(38,0)"
    num = (
        (F.col("n_tokens") - F.col("n_in_vocab")).cast(dec)
        * F.lit(1_000_000).cast(dec)
    )
    den = F.col("n_tokens").cast(dec)
    return per.select(
        id_col, "n_tokens", "n_in_vocab",
        ((num - F.pmod(num, den)) / den).cast("long").alias("oov_micro"),
    )


def encoding_anomalies(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Mojibake / encoding-damage gate: per document the count of
    C0/C1 control characters (tab, CR, LF excluded — those are
    formatting, not damage), U+FFFD replacement characters (the
    smoking gun of a bad decode), and NUL bytes, plus
    anomaly_micro = (n_ctrl + n_replacement + n_nul)·1e6 // n_chars —
    the cheap first-pass filter a web-scale curation pipeline runs
    before any model-based scoring (Gopher/C4-style rule families
    all carry one). Zero-length docs report NULL ratio (visible).

    Pure Catalyst: three regexp_count calls and integer arithmetic —
    no UDF, scan-parallel, no shuffle at all (a projection)."""
    n_chars = F.length(F.col(text_col))
    ctrl = F.regexp_count(
        F.col(text_col),
        F.lit(r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f-\x9f]"),
    )
    repl = F.regexp_count(F.col(text_col), F.lit("�"))
    nul = F.regexp_count(F.col(text_col), F.lit(r"\x00"))
    dec = "decimal(38,0)"
    out = docs.select(
        id_col,
        n_chars.cast("long").alias("n_chars"),
        ctrl.cast("long").alias("n_ctrl"),
        repl.cast("long").alias("n_replacement"),
        nul.cast("long").alias("n_nul"),
    )
    num = (
        (F.col("n_ctrl") + F.col("n_replacement") + F.col("n_nul"))
        .cast(dec) * F.lit(1_000_000).cast(dec)
    )
    den = F.col("n_chars").cast(dec)
    return out.withColumn(
        "anomaly_micro",
        F.when(
            F.col("n_chars") > 0,
            ((num - F.pmod(num, den)) / den).cast("long"),
        ),
    )


def vocab_growth(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket: int = 100,
) -> DataFrame:
    """Heaps-law vocabulary growth curve: reading the corpus in id_col
    order, how fast does the type (distinct-token) count grow against
    the token count — the report that says whether a tokenizer's
    vocabulary budget will saturate or keep bleeding OOVs as the
    corpus scales. Docs are grouped into buckets of `bucket` ids;
    per bucket: n_tokens (occurrences), new_types (tokens whose FIRST
    corpus appearance is in this bucket), cum_types, cum_tokens.

    The scale trick is cumulative_distinct's: cumulative types =
    running sum of first-appearance counts, so the only per-type state
    is min(bucket) — one row per vocabulary type — and the running
    windows operate on the buckets-sized relation. One token explode,
    two combinable aggregations, two unpartitioned windows over
    buckets."""
    from pyspark.sql import Window

    toks = docs.select(
        # integer div, not float floor(x/b) — the repo's epoch-floor rule
        F.expr(f"{id_col} div {bucket}").cast("long").alias("b"),
        F.explode(F.split(norm_text_col(F.col(text_col)), " "))
        .alias("_tok"),
    ).where(F.length("_tok") > 0)
    per = toks.groupBy("b").agg(F.count(F.lit(1)).alias("n_tokens"))
    first = (
        toks.groupBy("_tok").agg(F.min("b").alias("b"))
        .groupBy("b").agg(F.count(F.lit(1)).alias("new_types"))
    )
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        per.join(first, "b", "left")
        .select(
            F.col("b").alias("bucket"),
            "n_tokens",
            F.coalesce("new_types", F.lit(0)).alias("new_types"),
        )
        .withColumn("cum_types", F.sum("new_types").over(w))
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
    )
