"""Training-corpus assembly operators: deterministic splits, sequence
packing, vocabulary construction. These sit between the cleaning ops
(dedup/quality in operators/dedup + textstats) and the trainer: the last
Spark-side steps of a 100 TB data pipeline.

Scale shapes:
- hash_split is a pure per-row projection (no shuffle, no RNG state) —
  the split is a function of the id alone, so it is stable across reruns,
  engines and partitionings, and any subset of the data splits
  consistently. The md5-bucket form is engine-portable (a SQL oracle
  recomputes it bit-for-bit), unlike Spark's sampleBy (seeded per
  partition ⇒ resplit on repartition).
- pack_greedy is one window over (part, id) — a single shuffle by the
  packing partition column; bins are contiguous-fill (each doc lands in
  the bin its running token count starts in), the deterministic
  approximation of first-fit that needs no sequential state. Documents
  larger than the budget get a bin of their own (documented overflow).
- vocab_top is explode → count → top-k: the count is map-side
  combinable, and the final top-k is a single ordered limit, not a
  global sort of the vocabulary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import norm_text_col


def split_bucket(id_col, buckets: int = 100) -> F.Column:
    """Deterministic, engine-portable bucket in [0, buckets): the first 4
    hex digits of md5(id) mod buckets. DuckDB computes the identical
    value via CAST('0x' || substr(md5(id), 1, 4) AS INT) % buckets."""
    h = F.conv(F.substring(F.md5(id_col.cast("string")), 1, 4), 16, 10).cast("int")
    return h % buckets


def hash_split(
    df: DataFrame, id_col: str,
    weights: dict[str, int] | None = None, buckets: int = 100,
) -> DataFrame:
    """Adds (bucket, split) columns: a stable train/valid/test assignment
    from the row id alone. weights are integer bucket counts summing to
    `buckets` (default 80/10/10)."""
    weights = weights or {"train": 80, "valid": 10, "test": 10}
    if sum(weights.values()) != buckets:
        raise ValueError("split weights must sum to the bucket count")
    b = split_bucket(F.col(id_col), buckets)
    expr, lo = None, 0
    names = list(weights)
    for name in names[:-1]:
        lo += weights[name]
        cond = b < lo
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    expr = expr.otherwise(F.lit(names[-1])) if expr is not None else F.lit(names[-1])
    return df.withColumn("bucket", b.cast("long")).withColumn("split", expr)


def pack_greedy(
    df: DataFrame, id_col: str, token_col: str, budget: int,
    part_col: str | None = None,
) -> DataFrame:
    """Adds a `bin` column: contiguous-fill sequence packing. Documents
    are taken in (part, id) order; each lands in the bin its RUNNING
    token count (exclusive of itself) starts in — floor(cum_before /
    budget). One window = one shuffle; no sequential driver state. A
    document longer than the budget overflows its bin (the trainer-side
    chunker handles intra-document splitting)."""
    part = [part_col] if part_col else []
    w = Window.partitionBy(*part).orderBy(id_col)
    cum_before = F.coalesce(
        F.sum(token_col).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    return df.withColumn("bin", F.floor(cum_before / budget).cast("long"))


def chunk_documents(
    df: DataFrame, id_col: str, text_col: str,
    chunk_tokens: int, stride: int | None = None,
) -> DataFrame:
    """Intra-document sliding-window chunking — the splitter pack_greedy's
    docstring delegates to: each document becomes ⌈·⌉ fixed-size token
    windows of `chunk_tokens`, window i starting at token i·`stride`
    (stride < chunk_tokens ⇒ overlapping RAG-style context windows;
    stride == chunk_tokens, the default, ⇒ disjoint pretraining blocks).
    Every token is covered: n_chunks = 1 + ⌈max(n−chunk, 0)/stride⌉,
    computed with the INTEGER formula (extra + stride − 1) div stride so
    two engines agree without float ceil. Token-less documents produce
    zero chunks.

    Output: (id, chunk_id, n_chunks, chunk_start, n_chunk_tokens,
    chunk_text). Scale shape: a pure per-row projection + one explode —
    NO shuffle, no state; output rows ≈ input tokens / stride, each
    carrying ≤ chunk_tokens tokens, so the op streams at scan speed and
    the trailing short window (the only one with n_chunk_tokens < chunk)
    is explicit rather than silently dropped."""
    if stride is None:
        stride = chunk_tokens
    if not 0 < stride <= chunk_tokens:
        raise ValueError("need 0 < stride <= chunk_tokens")
    toks = F.filter(
        F.split(norm_text_col(F.col(text_col)), " "), lambda t: t != F.lit("")
    )
    base = (
        df.select(F.col(id_col), toks.alias("_toks"))
        .withColumn("_n", F.size("_toks").cast("long"))
        .where(F.col("_n") > 0)
    )
    extra = F.greatest(F.col("_n") - F.lit(chunk_tokens), F.lit(0))
    n_chunks = (
        F.lit(1) + F.expr(f"(_extra + {stride - 1}) div {stride}")
    ).cast("long")
    start = (F.col("chunk_id") * stride).cast("long")
    return (
        base.withColumn("_extra", extra)
        .withColumn("n_chunks", n_chunks)
        .withColumn(
            "chunk_id",
            F.explode(F.sequence(F.lit(0).cast("long"), F.col("n_chunks") - 1)),
        )
        .select(
            id_col,
            F.col("chunk_id"),
            "n_chunks",
            start.alias("chunk_start"),
            F.least(F.lit(chunk_tokens).cast("long"), F.col("_n") - start)
            .alias("n_chunk_tokens"),
            F.array_join(
                F.slice(F.col("_toks"), start + 1, chunk_tokens), " "
            ).alias("chunk_text"),
        )
    )


def vocab_top(
    df: DataFrame, text_col: str, k: int = 100, min_len: int = 1
) -> DataFrame:
    """Top-k vocabulary by frequency over whitespace-normalized lowercase
    tokens: (token, n), ordered by (n desc, token asc) for a
    deterministic cut at k."""
    toks = df.select(
        F.explode(F.split(norm_text_col(F.col(text_col)), " ")).alias("token")
    ).where(F.length("token") >= min_len)
    return (
        toks.groupBy("token").agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(k)
    )


def sample_stratified(
    df: DataFrame, id_col: str, strata_col: str,
    fracs: dict, buckets: int = 1000,
) -> DataFrame:
    """Deterministic per-stratum sampling: keep a row iff its hash bucket
    falls under its stratum's quota (round(frac * buckets)). Same design
    rationale as hash_split — a pure projection of the row id, so the
    sample is identical across reruns, engines, partitionings and
    cluster sizes, with no RNG state to seed per partition (the
    sampleBy pitfall). Uses md5 hex digits 5-8, DISJOINT from
    split_bucket's digits 1-4, so sampling is independent of any
    train/valid/test assignment on the same ids.

    Strata missing from `fracs` are dropped (sampleBy semantics)."""
    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 5, 4), 16, 10
    ).cast("int") % buckets
    expr = None
    for stratum, frac in fracs.items():
        cut = int(round(frac * buckets))
        cond = (F.col(strata_col) == stratum) & (h < cut)
        expr = cond if expr is None else expr | cond
    return df.where(expr if expr is not None else F.lit(False))


def weighted_sample(
    df: DataFrame, id_col: str, weight_col: str, rate: float,
) -> DataFrame:
    """Deterministic weighted Bernoulli (Poisson) sampling: keep row i
    with probability min(1, rate·wᵢ) — the weight-proportional
    subsampling step of corpus curation (e.g. keep long/high-quality
    documents preferentially). Same engine-replicable design as
    hash_split / sample_stratified: the coin is md5 hex digits 14-18 of
    the id (DISJOINT from split digits 1-4, strata digits 5-8 AND
    mix_sources' digits 9-12, so the sample composes independently
    with every other id-hash decision — overlapping ranges correlate
    keep decisions and silently bias a composed pipeline), a 20-bit integer compared
    against floor(min(1, rate·w)·16⁵). The only float op is ONE
    multiply of a Python literal by the weight column (correctly
    rounded, bit-identical on any IEEE engine) before an exact floor —
    deliberately NOT u^(1/w) / ln(u)/w reservoir keys, whose pow/ln
    are not guaranteed to round identically across engines. Pure
    per-row projection: no shuffle, no RNG state, stable across
    reruns, partitionings and cluster sizes."""
    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 14, 5), 16, 10
    ).cast("long")
    thresh = F.floor(
        F.least(F.lit(1.0), F.lit(float(rate)) * F.col(weight_col))
        * F.lit(float(16 ** 5))
    ).cast("long")
    return df.where(h < thresh)


def curate_documents(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    min_score: float = 0.7,
) -> DataFrame:
    """The end-to-end training-data curation pipeline as ONE composed
    plan: quality-score → threshold filter → exact-dedup survivors →
    deterministic train/valid/test assignment. Each stage is an existing
    operator (textstats.quality_features, dedup.dedup_exact,
    hash_split), so the composite inherits their scale shapes — a
    codegen projection, one hash-key window, and a pure md5-bucket
    projection; the only shuffle is the dedup window's. Language-ID and
    near-dup clustering compose the same way when needed (kept out of
    the default chain to keep the verification surface minimal).

    Stage order matters and is part of the contract: dedup runs AFTER
    the quality filter, so the surviving doc per duplicate group is the
    min-id among QUALIFYING copies (a low-quality copy never shadows a
    high-quality one)."""
    from .dedup import dedup_exact
    from .textstats import quality_features

    q = quality_features(docs, text_col)
    kept = q.where(F.col("q_score") >= min_score)
    survivors = dedup_exact(kept, id_col, text_col)
    return hash_split(survivors, id_col).select(
        id_col, "q_score", F.col("bucket"), "split"
    )


def decontaminate(
    train: DataFrame, eval_docs: DataFrame,
    id_col: str = "doc_id", text_col: str = "text",
    n: int = 8, min_hits: int = 1, hasher: str = "xx",
) -> DataFrame:
    """Benchmark decontamination: annotate every training document with
    the number of distinct verbatim n-token spans it shares with ANY
    eval/benchmark document (`contam_hits`) and a `contaminated` flag at
    `min_hits` — the GPT-3-style n-gram overlap rule that keeps held-out
    benchmarks out of the training set.

    Scale shape (the asymmetry IS the design): the eval side is
    benchmark-sized (10^3-10^6 docs, never TB), so its distinct span
    index is a broadcast; the 100 TB train side is ONE shingle pass
    (pure array algebra, no UDF) probed against that broadcast — the
    only shuffle of train-sized data is the per-doc hit count, which is
    map-side combinable. Hits count DISTINCT shared spans per train doc
    (word_shingles de-dups spans within a doc, and the eval index is
    distinct), so a span repeated across many eval docs still counts
    once — the flag measures the train doc, not eval redundancy."""
    from .dedup import word_shingles

    ev = (
        word_shingles(eval_docs, id_col, text_col, n, hasher=hasher)
        .select("sh")
        .distinct()
    )
    hits = (
        word_shingles(train, id_col, text_col, n, hasher=hasher)
        .join(F.broadcast(ev), "sh")
        .groupBy("doc")
        .agg(F.count("*").alias("contam_hits"))
    )
    return (
        train.join(
            hits.withColumnRenamed("doc", "__hit_id"),
            F.col(id_col) == F.col("__hit_id"),
            "left",
        )
        .drop("__hit_id")
        .withColumn("contam_hits", F.coalesce(F.col("contam_hits"), F.lit(0)))
        .withColumn("contaminated", F.col("contam_hits") >= min_hits)
    )


def mix_sources(
    df: DataFrame, id_col: str, source_col: str,
    alpha: float = 0.5, buckets: int = 10_000,
) -> DataFrame:
    """Temperature-style domain rebalancing by deterministic
    downsampling: source s with n_s rows keeps each row with fraction
    (n_min / n_s)^(1 - alpha), so kept counts are ∝ n_s^alpha — alpha=1
    keeps the natural mix, alpha→0 flattens toward uniform, and the
    rarest source is always kept whole (no upsampling; the trainer's
    epoch weights handle >1 passes). This is the multilingual/The-Pile
    mixing rule expressed as a keep-predicate.

    Scale shape: one tiny per-source count aggregate (map-side
    combinable; |sources| rows) broadcast back onto the stream, then a
    pure projection — the keep decision is md5(id) digits 9-12 against
    the source's cut, DISJOINT from hash_split's digits 1-4 and
    sample_stratified's 5-8, so mixing is independent of split and
    stratum sampling on the same ids, and identical across reruns,
    engines and partitionings (no RNG state)."""
    counts = df.groupBy(source_col).agg(F.count("*").alias("n_s"))
    n_min = counts.agg(F.min("n_s").alias("n_min"))
    ratio = F.col("n_min") / F.col("n_s")
    # sqrt is IEEE-correctly-rounded in every engine; pow is only
    # guaranteed to 1 ulp (Java Math.pow vs libm) — so the default
    # alpha=0.5 cut is bit-replicable by a SQL oracle, and other alphas
    # carry the documented 1-ulp caveat at the round() boundary
    e = 1.0 - alpha
    frac = F.sqrt(ratio) if abs(e - 0.5) < 1e-12 else F.pow(ratio, F.lit(e))
    cuts = (
        counts.crossJoin(F.broadcast(n_min))
        .select(
            source_col,
            F.round(frac * buckets).cast("int").alias("cut"),
        )
    )
    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 9, 4), 16, 10
    ).cast("int") % buckets
    return df.join(F.broadcast(cuts), source_col).where(h < F.col("cut"))


# ------------------------------------------------------------------
# Model-based quality scoring: a linear (logistic) classifier over
# cheap text statistics — the fasttext-style quality-filter stand-in.
# Scoring is a pure Catalyst projection (weights folded as literals,
# zero shuffle, composes into the scan).
# ------------------------------------------------------------------

# Hand-set prior weights (the frozen, oracle-checkable configuration):
# reward length and normal spacing, punish punctuation/digit/upper
# excess.
QUALITY_PRIOR = {
    "len_k": 0.8, "punct_r": -6.0, "digit_r": -4.0,
    "upper_r": -2.0, "space_r": 5.0,
}
QUALITY_PRIOR_BIAS = -1.0


def quality_feature_cols(text_col: str = "text") -> dict[str, F.Column]:
    """Engine-exact features: every one is a ratio of INTEGER character
    counts (length minus length-after-strip), so both engines compute
    bit-identical doubles — one correctly-rounded division each, no
    tokenizer dependence. Order matters downstream: linear_quality_score
    folds terms in this dict's insertion order."""
    t = F.col(text_col)
    n = F.length(t)
    d = F.greatest(n, F.lit(1)).cast("double")

    def stripped(pat: str) -> F.Column:
        return (n - F.length(F.regexp_replace(t, pat, ""))).cast("double")

    return {
        "len_k": n.cast("double") / 1000.0,
        "punct_r": stripped(r"[.,;:!?]") / d,
        "digit_r": stripped("[0-9]") / d,
        "upper_r": stripped("[A-Z]") / d,
        "space_r": stripped(" ") / d,
    }


def linear_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Appends `q_logit` (QUALITY_PRIOR_BIAS + Σ wᵢ·fᵢ over the
    QUALITY_PRIOR weights, folded LEFT-TO-RIGHT in quality_feature_cols
    order — the fixed association both engines replay, so the unrounded
    logit is bit-comparable) and `q_keep` (logit > 0). Pure projection:
    no shuffle, no UDF, composes into whole-stage codegen at the scan."""
    feats = quality_feature_cols(text_col)
    logit = F.lit(float(QUALITY_PRIOR_BIAS))
    for name, col in feats.items():
        logit = logit + F.lit(float(QUALITY_PRIOR[name])) * col
    return df.withColumn("q_logit", logit).withColumn(
        "q_keep", F.col("q_logit") > 0
    )


def shard_rendezvous(df: DataFrame, id_col: str, n_shards: int) -> DataFrame:
    """Adds a `shard` column by RENDEZVOUS (highest-random-weight)
    hashing: shard(id) = argmax over s ∈ [0, n_shards) of h(id, s) —
    the consistent-sharding primitive for incremental dataset
    publishing. Unlike `pmod(hash(id), N)` (which remaps ~half of all
    rows when N changes), growing N → N+1 moves ONLY the rows whose
    argmax is the NEW shard — an expected 1/(N+1) fraction, provably
    minimal (every row's scores for the old shards are unchanged, so a
    row moves iff the new shard's score beats its previous best). The
    property is asserted row-for-row in tests.

    Pure projection, no shuffle: n_shards engine-portable md5 scores
    per row folded into ONE array_max over (h, s) structs (O(N)
    expression size — a when-chain would duplicate subtrees
    exponentially), tie-broken by the struct order (higher s), all
    whole-stage codegen. n_shards is a per-row constant cost, the
    standard rendezvous trade (for thousands of shards use the
    hierarchical variant; data shards are typically ≤ a few hundred)."""
    idc = F.col(id_col).cast("string")
    arr = F.array(*[
        F.struct(
            F.conv(
                F.substring(
                    F.md5(F.concat(idc, F.lit(f"#shard{s}"))), 1, 15
                ),
                16, 10,
            ).cast("long").alias("h"),
            F.lit(s).alias("s"),
        )
        for s in range(n_shards)
    ])
    return df.withColumn(
        "shard", F.array_max(arr).getField("s").cast("long")
    )


def negative_edges(
    edges: DataFrame,
    k: int = 3,
    buckets: int = 64,
    salt: str = "neg",
) -> DataFrame:
    """Deterministic filtered negative sampling over edges(src, dst) →
    (src, dst, j, dst_neg): for every positive edge, up to k corrupted-
    destination negatives drawn uniformly from the TRUE destination
    pool — the contrastive-training primitive for KG link prediction
    (margin/NCE losses need negatives whose marginal distribution
    matches the positives', i.e. sampled from the observed object
    pool, not from the raw id space where most ids don't exist).

    No RNG state anywhere — the pipeline's md5-coin discipline
    (hash_split/weighted_sample): negative j of edge (s, d) is the pool
    element at index md5(s#d#j#salt) mod |pool|, so output is a pure
    function of the edge set, identical on any partitioning and
    replayable by the SQL oracle digit-for-digit.

    Pool indexing reuses the sorted_neighborhood_pairs decomposition —
    a contiguous 0..P−1 index with NO global window: md5-bucket the
    pool, row_number within buckets (bucket-partitioned window),
    offsets from a cumulative sum over the bucket-size relation
    (buckets-sized small relation). |pool| is folded in-plan via a
    broadcast single-row count (action-free, the personalized-pagerank
    |S| discipline). Draws then resolve through ONE equi-join on the
    index — uniform by construction, so no skew — and an anti-join
    against the true edge set drops accidental positives: the standard
    'filtered' estimator, yielding ≤ k negatives per edge (expected
    loss ~k·outdeg/|pool| on sparse graphs; j survives in the output so
    a loss can weight accordingly). Self-pairs (dst_neg = src) are NOT
    dropped — whether reflexive corruption is 'negative' is a modeling
    choice left to the caller."""
    e = edges.select("src", "dst").dropDuplicates()
    pool = e.select(F.col("dst").alias("dst_neg")).dropDuplicates()
    from pyspark.sql import Window

    hb = F.conv(
        F.substring(
            F.md5(F.concat_ws("#", F.col("dst_neg").cast("string"),
                              F.lit(salt + "pool"))), 1, 15
        ), 16, 10,
    ).cast("long")
    pb = pool.withColumn("b", F.pmod(hb, F.lit(buckets)))
    wb = Window.partitionBy("b").orderBy("dst_neg")
    ranked = pb.withColumn("rn", F.row_number().over(wb).cast("long"))
    sizes = ranked.groupBy("b").agg(F.count("*").alias("n"))
    wo = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    offs = sizes.withColumn(
        "off", F.coalesce(F.sum("n").over(wo), F.lit(0)).cast("long")
    )
    idx = ranked.join(F.broadcast(offs), "b").select(
        "dst_neg", (F.col("off") + F.col("rn") - 1).alias("_idx")
    )
    total = pool.agg(F.count("*").alias("_p"))
    hj = F.conv(
        F.substring(
            F.md5(F.concat_ws(
                "#", F.col("src").cast("string"),
                F.col("dst").cast("string"),
                F.col("j").cast("string"), F.lit(salt),
            )), 1, 15
        ), 16, 10,
    ).cast("long")
    cand = (
        e.select(
            "src", "dst",
            F.explode(F.sequence(F.lit(1), F.lit(k))).alias("j"),
        )
        .crossJoin(F.broadcast(total))
        .withColumn("_idx", F.pmod(hj, F.col("_p")))
        .select("src", "dst", "j", "_idx")
    )
    neg = cand.join(idx, "_idx").select("src", "dst", "j", "dst_neg")
    return neg.join(
        e.select(F.col("src").alias("_s"), F.col("dst").alias("_d")),
        (F.col("src") == F.col("_s")) & (F.col("dst_neg") == F.col("_d")),
        "anti",
    )


def confusion_report(
    scored: DataFrame,
    label_col: str,
    score_col: str,
    threshold,
) -> DataFrame:
    """Single-row exact confusion matrix at a decision threshold
    (predicted positive ⇔ score ≥ threshold) with floored-millionths
    precision / recall / F1 — the deployment-gate companion of the
    threshold-free AUC/calibration reports: AUC says the scorer ranks
    well, this says what shipping THIS cutoff does.

        precision_micro = tp·1e6 // (tp + fp)   (NULL if no predicted
        recall_micro    = tp·1e6 // (tp + fn)    positives / positives)
        f1_micro        = 2·tp·1e6 // (2·tp + fp + fn)

    Rows with a NULL label or score are excluded (counted in n_null so
    the exclusion is visible, never silent).

    Scale shape: one full-scan map-side-combinable aggregation — four
    conditional counts — with no shuffle beyond the single-row
    reduce; the integer ratios are driver-free column arithmetic."""
    lab = F.col(label_col).cast("boolean")
    pred = F.col(score_col) >= F.lit(threshold)
    ok = lab.isNotNull() & F.col(score_col).isNotNull()

    def _cnt(cond):
        return F.sum(F.when(ok & cond, 1).otherwise(0))

    agg = scored.agg(
        _cnt(lab & pred).alias("tp"),
        _cnt(~lab & pred).alias("fp"),
        _cnt(lab & ~pred).alias("fn"),
        _cnt(~lab & ~pred).alias("tn"),
        F.sum(F.when(~ok, 1).otherwise(0)).alias("n_null"),
    )
    dec = "decimal(38,0)"
    mil = F.lit(1_000_000).cast(dec)

    def _ratio(numer, denom):
        nn = numer.cast(dec) * mil
        dd = denom.cast(dec)
        return F.when(
            denom > 0, ((nn - F.pmod(nn, dd)) / dd).cast("long")
        )

    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    return agg.select(
        "tp", "fp", "fn", "tn", "n_null",
        _ratio(tp, tp + fp).alias("precision_micro"),
        _ratio(tp, tp + fn).alias("recall_micro"),
        _ratio(F.lit(2) * tp, F.lit(2) * tp + fp + fn).alias("f1_micro"),
    )
