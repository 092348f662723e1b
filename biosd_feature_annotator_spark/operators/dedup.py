"""Document deduplication suite — exact, MinHash+LSH, SimHash, n-gram
Jaccard. First-class components of a training-data pipeline at 100 TB
(driver mandate), generalizing the reference's distinct-text memoization
(SURVEY.md §2.5 A1) from "dedupe identical property strings" to "dedupe
near-identical documents".

Everything here is JVM-side DataFrame algebra — shingling, hashing
(xxhash64), min-aggregation, banding and bucket self-joins — no Python
UDFs at all, so the whole suite stays inside whole-stage codegen and
scales by partitioning:

- exact:   one groupBy on the text hash (map-side combinable).
- MinHash: explode word shingles (one shuffle to group by doc is avoided —
  shingling is a per-row array op; the only shuffle is the signature
  groupBy), k independent permutations approximated by xxhash64(shingle,
  seed_k), LSH banding so candidate generation is an equi-join on
  (band_idx, band_hash) — never an all-pairs product. Hot buckets (boiler-
  plate docs) are bounded by `max_bucket` to keep the self-join skew-safe.
- SimHash: 64-bit signature from token-hash bit votes; near-dup candidates
  via 4×16-bit band equality (Hamming ≤ 3 guarantee by pigeonhole), then
  exact Hamming verify with bit_count(xor).
- n-gram Jaccard: distinct-shingle self-join with document-frequency
  capping (stopword-shingle removal) — the exact-verification companion to
  MinHash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def norm_text_col(col) -> F.Column:
    return F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))


def hash64(col, seed: int | None = None, hasher: str = "xx") -> F.Column:
    """64-bit-ish hash of a column, two interchangeable kernels:

    - "xx"  — xxhash64, the fast JVM-native default (production path).
    - "md5" — the top 60 bits of md5 as a non-negative long
      (conv(substr(md5(s || '#seed'), 1, 15), 16, 10)). ~3× slower but
      *engine-portable*: DuckDB computes the identical value via
      CAST('0x' || substr(md5(s), 1, 15) AS BIGINT), which is what makes
      the whole MinHash/SimHash/winnowing family independently
      verifiable by the driver's SQL oracle. Identical distribution
      properties; the scale design (banded equi-joins, map-side
      combinable mins) is hasher-agnostic.
    """
    if hasher == "xx":
        return F.xxhash64(col) if seed is None else F.xxhash64(col, F.lit(seed))
    s = col.cast("string")
    if seed is not None:
        s = F.concat(s, F.lit(f"#{seed}"))
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


# ------------------------------------------------------------------ exact

def dedup_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Survivor rows only — deterministic min-id per normalized text.

    The shuffle/sort key is (xxhash64, md5) of the normalized text — 40
    bytes instead of the full document, a ~5× win measured at sf0.1, and
    192 combined bits keeps the collision expectation ≪ 1 even at 10^12
    docs (a raw 64-bit key would already expect ~27k collisions there).

    Survivor election is min_by over the id instead of a row_number
    window (r6): identical rows out (min id per group is unique), but
    the aggregation partial-combines map-side — each map task ships ONE
    candidate row per text-hash group instead of every duplicate row
    crossing the exchange to be sorted."""
    norm = norm_text_col(F.col(text_col))
    keyed = df.withColumn("_h64", F.xxhash64(norm)).withColumn("_hmd5", F.md5(norm))
    cols = df.columns
    return (
        keyed.groupBy("_h64", "_hmd5")
        .agg(F.min_by(F.struct(*[F.col(c) for c in cols]), F.col(id_col)).alias("_r"))
        .select("_r.*")
    )


# --------------------------------------------------------------- shingles

def word_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, hasher: str = "xx"
) -> DataFrame:
    """(doc, shingle_hash) — distinct word n-grams per doc, hashed JVM-side.
    Shingling is pure array algebra: split → transform over a sequence of
    start offsets → slice/join — no UDF, no shuffle.

    Standard shingling semantics: a doc with fewer than n tokens emits NO
    shingles (slice would otherwise pad down to a short gram — which the
    SQL oracles' t[i] || ' ' || t[i+1] form drops as NULL; ADVICE r2)."""
    toks = F.split(norm_text_col(F.col(text_col)), " ")
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        df.select(F.col(id_col).alias("doc"), F.explode(F.array_distinct(grams)).alias("shingle"))
        .where(F.length("shingle") > 0)
        .select("doc", hash64(F.col("shingle"), hasher=hasher).alias("sh"))
        .dropDuplicates(["doc", "sh"])
    )


# ---------------------------------------------------------------- MinHash

def minhash_signatures(
    shingled: DataFrame, num_hashes: int = 16, hasher: str = "xx"
) -> DataFrame:
    """(doc, sig array<long>): sig[k] = min over shingles of
    hash64(sh, k). One hash-aggregate; partial aggregation makes it
    map-side combinable, so the shuffle carries one row per (doc) not per
    (doc, shingle)."""
    aggs = [
        F.min(hash64(F.col("sh"), seed=k, hasher=hasher)).alias(f"h{k}")
        for k in range(num_hashes)
    ]
    sig = shingled.groupBy("doc").agg(*aggs)
    return sig.select(
        "doc", F.array(*[f"h{k}" for k in range(num_hashes)]).alias("sig")
    )


def lsh_candidate_pairs(
    signatures: DataFrame, num_hashes: int = 16, bands: int = 4,
    max_bucket: int = 50, hasher: str = "xx",
) -> DataFrame:
    """Band the signature, bucket-join. (a, b) pairs with a < b.
    max_bucket drops degenerate buckets (boilerplate) — the skew guard;
    dropped buckets are exactly the ones exact-dedup already catches.

    num_hashes is passed by the caller (minhash_near_duplicates already
    knows it) instead of probed from the data — a .first() here would be
    a driver-side action at plan-build time that re-executes the whole
    upstream signature plan and crashes on empty input."""
    rows_per_band = num_hashes // bands
    banded = signatures.select(
        "doc",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    hash64(
                        F.concat_ws(",", *[
                            F.element_at("sig", b * rows_per_band + r + 1)
                            for r in range(rows_per_band)
                        ]),
                        hasher=hasher,
                    ).alias("bh"),
                )
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select("doc", "bb.band", "bb.bh")
    # bucket-size guard as ONE count-over-window on (band, bh) instead
    # of a groupBy + size join (r6): same rows, and the window's
    # exchange establishes exactly the (band, bh) partitioning the pair
    # self-join below needs, so both join sides share it via
    # ReuseExchange — two exchanges removed from the plan.
    from pyspark.sql import Window as _W

    sized = banded.withColumn(
        "bsz", F.count(F.lit(1)).over(_W.partitionBy("band", "bh"))
    ).where((F.col("bsz") > 1) & (F.col("bsz") <= max_bucket)).drop("bsz")
    a, b = sized.alias("a"), sized.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bh") == F.col("b.bh"))
               & (F.col("a.doc") < F.col("b.doc")))
        .select(F.col("a.doc").alias("a"), F.col("b.doc").alias("b"))
        .dropDuplicates(["a", "b"])
    )


def verify_jaccard(pairs: DataFrame, shingled: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard on candidate pairs via shingle-set joins. Emits the
    EXACT integer components (inter, uni) alongside the rounded ratio: the
    threshold compare is bit-identical across engines (same two integers
    divided the same way), but a ROUNDED double in an oracle-hashed output
    could flip at a .5 ulp boundary — integer columns cannot (VERDICT r2
    float-risk item). Callers that hash results should prefer inter/uni."""
    sizes = shingled.groupBy("doc").agg(F.count("*").alias("n"))
    # intersection size: join shingles of a and b on the shingle hash
    sa = shingled.select(F.col("doc").alias("a"), "sh")
    sb = shingled.select(F.col("doc").alias("b"), "sh")
    inter = (
        pairs.join(sa, "a").join(sb, ["b", "sh"])
        .groupBy("a", "b").agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc", "a").withColumnRenamed("n", "na"), "a")
        .join(sizes.withColumnRenamed("doc", "b").withColumnRenamed("n", "nb"), "b")
        .withColumn("uni", F.col("na") + F.col("nb") - F.col("inter"))
        .withColumn("jaccard", F.col("inter") / F.col("uni"))
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", "inter", "uni", F.round("jaccard", 6).alias("jaccard"))
    )


def minhash_near_duplicates(
    df: DataFrame, id_col: str, text_col: str,
    shingle_n: int = 3, num_hashes: int = 16, bands: int = 4,
    threshold: float = 0.7, hasher: str = "xx",
) -> DataFrame:
    """Full MinHash→LSH→exact-verify pipeline. Returns (a, b, jaccard).
    hasher="md5" switches every hash to the engine-portable md5 kernel
    (see hash64) so a SQL oracle can replicate the exact candidate set."""
    sh = word_shingles(df, id_col, text_col, shingle_n, hasher=hasher)
    sig = minhash_signatures(sh, num_hashes, hasher=hasher)
    cand = lsh_candidate_pairs(sig, num_hashes, bands, hasher=hasher)
    return verify_jaccard(cand, sh, threshold)


# ---------------------------------------------------------------- SimHash

def simhash_bits(hasher: str) -> int:
    """Signature width per hasher: xxhash64 gives 64 bits; the portable
    md5 kernel keeps 60 (15 hex digits → non-negative long)."""
    return 64 if hasher == "xx" else 60


def simhash(df: DataFrame, id_col: str, text_col: str, hasher: str = "xx") -> DataFrame:
    """(doc, simhash long): 64-bit (60 for md5) majority-vote signature
    over token hashes. The bit-votes are plain conditional sums — wide but
    fully codegen'd, one aggregate."""
    n_bits = simhash_bits(hasher)
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.split(norm_text_col(F.col(text_col)), " ")).alias("tok"),
    ).where(F.length("tok") > 0)
    h = hash64(F.col("tok"), hasher=hasher)
    votes = toks.groupBy("doc").agg(
        *[
            F.sum(
                F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(n_bits)
        ]
    )
    sig = None
    for i in range(n_bits):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, i)
        sig = term if sig is None else sig.bitwiseXOR(term)
    return votes.select("doc", sig.alias("simhash"))


def simhash_near_duplicates(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3,
    hasher: str = "xx",
) -> DataFrame:
    """Near-dups by SimHash: 4-band bucketing (any pair with Hamming ≤ 3
    shares ≥ 1 exact band by pigeonhole), exact popcount verify."""
    n_bits = simhash_bits(hasher)
    band_w = n_bits // 4
    band_mask = (1 << band_w) - 1
    sig = simhash(df, id_col, text_col, hasher=hasher)
    bands = sig.select(
        "doc", "simhash",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright("simhash", b * band_w).bitwiseAND(F.lit(band_mask)).alias("bh"),
            )
            for b in range(4)
        ])).alias("bb"),
    ).select("doc", "simhash", "bb.band", "bb.bh")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bh") == F.col("b.bh"))
               & (F.col("a.doc") < F.col("b.doc")))
        .select(
            F.col("a.doc").alias("a"), F.col("b.doc").alias("b"),
            F.col("a.simhash").alias("sa"), F.col("b.simhash").alias("sb"),
        )
        .dropDuplicates(["a", "b"])
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))))
        .where(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


# ----------------------------------------------------- n-gram Jaccard (exact)

def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str,
    n: int = 3, threshold: float = 0.8, max_df: int = 100,
) -> DataFrame:
    """Exact all-pairs Jaccard via the distinct-shingle inverted index.
    max_df drops shingles appearing in > max_df docs (the join-explosion
    guard — same role as IDF pruning)."""
    sh = word_shingles(df, id_col, text_col, n)
    rare = sh.join(
        sh.groupBy("sh").agg(F.count("*").alias("df_")).where(F.col("df_") <= max_df),
        "sh",
    ).select("doc", "sh")
    sizes = sh.groupBy("doc").agg(F.count("*").alias("n"))
    sa = rare.select(F.col("doc").alias("a"), "sh")
    sb = rare.select(F.col("doc").alias("b"), "sh")
    inter = (
        sa.join(sb, "sh").where(F.col("a") < F.col("b"))
        .groupBy("a", "b").agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col("doc").alias("a"), F.col("n").alias("na")), "a")
        .join(sizes.select(F.col("doc").alias("b"), F.col("n").alias("nb")), "b")
        .withColumn("jaccard", F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")))
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", F.round("jaccard", 6).alias("jaccard"))
    )


def prefix_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str,
    n: int = 3, threshold: float = 0.8, hasher: str = "xx",
) -> DataFrame:
    """EXACT Jaccard ≥ τ self-join via PREFIX FILTERING (the
    AllPairs/PPJoin candidate-generation discipline, Bayardo et al. /
    Xiao et al. — public algorithms): each document indexes only its
    ⌊(1−τ)·|d|⌋ + 1 RAREST shingles under a global total order
    (document frequency ascending, shingle hash as the deterministic
    tie-break). Pigeonhole guarantee: two sets with J ≥ τ overlap in
    more than (1−τ)·min(|a|,|b|) elements, so they MUST share at least
    one prefix token — no false negatives, unlike ngram_jaccard_pairs'
    max_df cap (which trades recall for join safety) or MinHash (which
    is probabilistic). At τ=0.8 the index carries ~20% of the postings,
    and rare-first ordering makes the surviving buckets small by
    construction — boilerplate shingles are exactly the ones prefix
    selection skips.

    Scale shape: df-count (map-side combinable) → per-doc rank window
    (partitioned by doc — scales with docs, no global sort) → prefix
    postings equi-join on the shingle (never all-pairs) + symmetric
    length filter ⌈τ·max⌉ ≤ min → verify by array_intersect over the
    per-doc sorted shingle arrays (one join per side, per-pair O(|d|),
    all codegen). Emits exact integers (inter, uni) — the engine-
    portable form (jaccard = inter/uni is derivable; no rounded double,
    no tie hazard).

    Every threshold comparison is INTEGER arithmetic on a rational
    τ = num/den (Fraction(threshold).limit_denominator; 0.8 → 4/5
    exactly): float ⌊(1−τ)·sz⌋ would under-compute the prefix length
    whenever τ·sz is an exact integer (0.8·5 → 0.9999… → 0, one
    position short of the pigeonhole bound — a real false-negative
    class), and a float inter ≥ τ·uni verify has the same boundary
    exposure. sz − ⌈num·sz/den⌉ + 1 and inter·den ≥ num·uni have
    none, on any engine."""
    from fractions import Fraction

    from pyspark.sql import Window
    frac = Fraction(threshold).limit_denominator(10_000)
    num, den = frac.numerator, frac.denominator

    # NOT persisted (r6, measured 2.4-3.0 s -> 1.9-2.2 s at sf0.1):
    # all four branches (df counts, the rank window, both verify
    # sides) end in word_shingles' identical dropDuplicates exchange,
    # which ReuseExchange computes once — the persist paid a cache
    # round-trip for nothing and hid size stats from the join planner.
    sh = word_shingles(df, id_col, text_col, n, hasher=hasher)
    dfreq = sh.groupBy("sh").agg(F.count("*").alias("df_"))
    by_doc = Window.partitionBy("doc")
    ranked = sh.join(dfreq, "sh").select(
        "doc", "sh",
        F.row_number().over(by_doc.orderBy("df_", "sh")).alias("pos"),
        F.count("*").over(by_doc).alias("sz"),
    )
    # prefix length sz − ⌈τ·sz⌉ + 1, integer-exact:
    # ⌈num·sz/den⌉ = (num·sz + den − 1) div den
    prefix_len = (
        F.col("sz")
        - F.expr(f"(({num} * sz + {den} - 1)) div {den}")
        + F.lit(1)
    )
    pre = ranked.where(F.col("pos") <= prefix_len).select("doc", "sh", "sz")
    cand = (
        pre.select(F.col("doc").alias("a"), "sh", F.col("sz").alias("sa"))
        .join(pre.select(F.col("doc").alias("b"), "sh", F.col("sz").alias("sb")), "sh")
        .where(
            (F.col("a") < F.col("b"))
            # length filter: τ·max(|a|,|b|) ≤ min(|a|,|b|) is necessary
            # for J ≥ τ (inter ≤ min, uni ≥ max); integer cross-multiply
            & (F.least("sa", "sb") * F.lit(den)
               >= F.greatest("sa", "sb") * F.lit(num))
        )
        .select("a", "b")
        .dropDuplicates(["a", "b"])
    )
    toks = sh.groupBy("doc").agg(
        F.sort_array(F.collect_list("sh")).alias("toks"),
        F.count("*").alias("sz"),
    )
    verified = (
        cand.join(
            toks.select(F.col("doc").alias("a"), F.col("toks").alias("ta"),
                        F.col("sz").alias("sa")), "a")
        .join(
            toks.select(F.col("doc").alias("b"), F.col("toks").alias("tb"),
                        F.col("sz").alias("sb")), "b")
        .select(
            "a", "b",
            F.size(F.array_intersect("ta", "tb")).cast("long").alias("inter"),
            (F.col("sa") + F.col("sb")
             - F.size(F.array_intersect("ta", "tb"))).cast("long").alias("uni"),
        )
        # integer cross-multiply: inter/uni ≥ τ without a float divide
        .where(F.col("inter") * F.lit(den) >= F.col("uni") * F.lit(num))
    )
    return verified


def containment_pairs(
    df: DataFrame, id_col: str, text_col: str,
    n: int = 3, threshold: float = 0.9, hasher: str = "xx",
) -> DataFrame:
    """EXACT directed set-containment self-join: (a, b, inter, sa, sb)
    for every ordered pair with |A∩B| / |A| ≥ τ, a ≠ b — the ASYMMETRIC
    complement of prefix_jaccard_pairs. Containment is the
    quote/subset-duplication primitive (Broder's resemblance vs
    containment distinction): a short document pasted into a long one
    has low Jaccard (the union is big) but containment ≈ 1, so
    symmetric dedup misses exactly the cases containment catches.

    Same prefix-filter discipline, asymmetric form: only the PROBE side
    A prunes to its |A| − ⌈τ·|A|⌉ + 1 rarest shingles (df-asc global
    order, hash tie-break) — pigeonhole: if P∩B = ∅ for that prefix P
    then A∩B ⊆ A∖P with |A∖P| = ⌈τ|A|⌉ − 1 < τ|A|, so no true pair is
    lost. The INDEX side must stay full (B can contain A with any of
    A's shingles), which is the inherent asymmetry of containment
    joins: the equi-join is probe-prefix × full postings, with bucket
    sizes bounded by the rarity of prefix shingles (a prefix shingle's
    df IS its bucket size). The one valid length filter is
    |B| ≥ ⌈τ·|A|⌉ (inter ≤ |B|), applied as the integer cross-multiply
    sb·den ≥ num·sa; verify is array_intersect over per-doc sorted
    shingle arrays and the integer test inter·den ≥ num·sa. All
    arithmetic is exact rational (Fraction), closing the same
    τ·sz-integral boundary class prefix_jaccard_pairs documents."""
    from fractions import Fraction

    from pyspark.sql import Window
    frac = Fraction(threshold).limit_denominator(10_000)
    num, den = frac.numerator, frac.denominator

    # NOT persisted (r6, measured 2.5-2.7 s -> 1.7-2.1 s at sf0.1):
    # same ReuseExchange argument as prefix_jaccard_pairs above.
    sh = word_shingles(df, id_col, text_col, n, hasher=hasher)
    dfreq = sh.groupBy("sh").agg(F.count("*").alias("df_"))
    by_doc = Window.partitionBy("doc")
    ranked = sh.join(dfreq, "sh").select(
        "doc", "sh",
        F.row_number().over(by_doc.orderBy("df_", "sh")).alias("pos"),
        F.count("*").over(by_doc).alias("sz"),
    )
    prefix_len = (
        F.col("sz")
        - F.expr(f"(({num} * sz + {den} - 1)) div {den}")
        + F.lit(1)
    )
    pre = ranked.where(F.col("pos") <= prefix_len).select(
        F.col("doc").alias("a"), "sh", F.col("sz").alias("sa")
    )
    sizes = sh.groupBy("doc").agg(
        F.sort_array(F.collect_list("sh")).alias("toks"),
        F.count("*").alias("sz"),
    )
    full = sh.select(F.col("doc").alias("b"), "sh")
    cand = (
        pre.join(full, "sh")
        .where(F.col("a") != F.col("b"))
        .select("a", "b", "sa")
        .dropDuplicates(["a", "b"])
    )
    return (
        cand.join(
            sizes.select(F.col("doc").alias("b"), F.col("toks").alias("tb"),
                         F.col("sz").alias("sb")), "b")
        # asymmetric length filter: |B| >= ceil(tau*|A|)
        .where(F.col("sb") * F.lit(den) >= F.lit(num) * F.col("sa"))
        .join(sizes.select(F.col("doc").alias("a"), F.col("toks").alias("ta")),
              "a")
        .select(
            "a", "b",
            F.size(F.array_intersect("ta", "tb")).cast("long").alias("inter"),
            F.col("sa").cast("long").alias("sa"),
            F.col("sb").cast("long").alias("sb"),
        )
        .where(F.col("inter") * F.lit(den) >= F.lit(num) * F.col("sa"))
    )


def shared_ngram_spans(
    df: DataFrame, id_col: str, text_col: str,
    n: int = 8, max_df: int = 50, hasher: str = "xx",
) -> DataFrame:
    """Exact duplicated n-token SPANS across documents → (a, b,
    shared_spans): for every document pair, how many distinct n-token
    windows they share verbatim. The span-level substring-duplication
    primitive (the long-n complement of ngram_jaccard_pairs' similarity
    ratio): with n ≈ 8-20 a single shared span is already strong evidence
    of copied text, and the count sizes the overlap for a
    remove-longest-dup pass.

    Scale shape: distinct spans per doc (pure array algebra, no UDF) →
    inverted index grouped by span hash → postings kept only for
    1 < df ≤ max_df (a span in ONE doc pairs with nothing; a boilerplate
    span in thousands of docs would explode the self-join quadratically —
    the df cap is the same IDF guard as ngram_jaccard_pairs) → self-join
    within postings → per-pair count, map-side combinable."""
    sh = word_shingles(df, id_col, text_col, n, hasher=hasher)
    df_counts = sh.groupBy("sh").agg(F.count("*").alias("df_"))
    rare = (
        sh.join(
            df_counts.where((F.col("df_") > 1) & (F.col("df_") <= max_df)), "sh"
        ).select("doc", "sh")
    )
    sa = rare.select(F.col("doc").alias("a"), "sh")
    sb = rare.select(F.col("doc").alias("b"), "sh")
    return (
        sa.join(sb, "sh")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("shared_spans"))
    )
