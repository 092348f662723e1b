"""JVM-only extraction backend: the whole-stage-codegen twin of
operators/extract.py (X1-X5), with zero Python in the data path.

Why it exists: the pandas-UDF extractor is the right default for complex
per-row logic, but it pays Arrow IPC plus one Python worker per core — on
a host where all cores share one memory subsystem that overhead is the
dominant scaling loss (BENCH/BASELINE.md). This backend expresses the
same grammar as Catalyst expressions (regexp_extract_all + array algebra
+ a broadcast gram join), so extraction stays inside whole-stage codegen
and scales with plain JVM task parallelism. It is selected with
``annotate(..., extraction="jvm")``.

Semantics vs the Python extractor — identical on the engine's corpora
(asserted by fingerprint-equality tests), with three documented edge
divergences, none of which the frozen golden grammar exercises:

1. masking replaces the matched FRAGMENT string everywhere in the turn
   (literal replace) instead of span-masking by offset — an identical
   date/range string elsewhere in the same turn is masked too (it would
   have produced the same deduped triple anyway);
2. term matching is all-occurrences over token n-grams rather than
   leftmost-longest-consuming — equivalent unless two DIFFERENT terms'
   surfaces overlap in the text (no such pair exists in the golden or
   bench lexicons), and punctuation inside a surface is normalized away
   ('h. sapiens' and 'h sapiens' both match; the Python matcher requires
   the exact punctuated form);
3. number serialization for exotic exponent literals (1e300) follows
   Spark's double→string cast instead of Python repr.

Shuffle profile: value extraction + masking is fully partition-local;
term matching adds ONE partial-aggregated shuffle of mention-sized rows
(best-match-per-term reduction after the broadcast gram join).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame
from ..sources.lexicon import Lexicon, norm_surface
from .extract import MENTION_SCHEMA, TIME_UNITS, pred_when_chain  # noqa: F401  (schema parity)

# the same grammar strings as operators/extract.py, in Java-regex form
# (Python's re.IGNORECASE becomes an embedded (?i) flag)
_NUM = r"[+-]?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?"
_UNIT_TAIL = r"(?:[ \t]{1,3}([A-Za-z]+))?"
_NUM_PAT = rf"(?<![\w./+-])({_NUM})(?!\w){_UNIT_TAIL}"
_RANGE_PAT = (
    rf"(?<![\w./+-])({_NUM})[ \t]{{0,3}}(?:-|–|to|\.\.)[ \t]{{0,3}}({_NUM})(?!\w){_UNIT_TAIL}"
)
_BETWEEN_PAT = rf"(?i)\bbetween\s+({_NUM})\s+and\s+({_NUM})(?!\w){_UNIT_TAIL}"

_MONTHS = "jan feb mar apr may jun jul aug sep oct nov dec".split()
_DATE_PATS = [
    # (pattern, day_group, mon_group, year_group, mon_is_name, fixed)
    (r"(?<![\w./+-])(\d{4})-(\d{2})-(\d{2})(?!\w)", 3, 2, 1, False),
    (r"(?<![\w./+-])(\d{2})/(\d{2})/(\d{4})(?!\w)", 1, 2, 3, False),
    (r"(?i)(?<![\w./+-])(\d{1,2})-([A-Za-z]{3,9})-(\d{4})(?!\w)", 1, 2, 3, True),
    (r"(?i)\b(" + "|".join(_MONTHS) + r")[a-z]*\.?[ \t]+(\d{4})(?!\d)", None, 1, 2, True),
    (r"(?i)\b(?:in|since|year)[ \t]+((?:19|20)\d{2})(?!\d)", None, None, 1, False),
]

_AGE_CTX_PAT = r"(?i)\b(age|aged|old)\b"
_TOKEN_RE = re.compile(r"\w+")


def _month_no_col(name_col) -> F.Column:
    """lower(first-3-letters) → month number, mirroring extract._MONTH_NO
    (any word with a valid 3-letter month prefix parses — frozen)."""
    m = F.lower(F.substring(name_col, 1, 3))
    expr = F.lit(None).cast("int")
    for i, mon in enumerate(_MONTHS):
        expr = F.when(m == mon, F.lit(i + 1)).otherwise(expr)
    return expr


def _fmt_num(v) -> F.Column:
    """Spark twin of extract.fmt_num: integral doubles print as ints.
    try_cast keeps the expression ANSI-safe for the non-finite literals
    the ok-filter later drops (cast(inf as long) would throw)."""
    as_long = v.try_cast("long")
    is_int = as_long.isNotNull() & (v == as_long.cast("double")) & (F.abs(v) < 1e15)
    return F.when(is_int, as_long.cast("string")).otherwise(v.cast("string"))


def _unit_canon(unit_raw, lex: Lexicon) -> F.Column:
    """Raw trailing word → canonical unit label via the (small) unit map
    as a literal Catalyst map — the JVM twin of extract._unit_after.
    try_element_at: a non-unit word is NULL, not an ANSI error."""
    if not lex.unit_map:
        return F.lit(None).cast("string")
    entries = []
    for k, v in sorted(lex.unit_map.items()):
        entries.extend([F.lit(k), F.lit(v)])
    return F.try_element_at(F.create_map(*entries), F.lower(unit_raw))


def _finite(v) -> F.Column:
    return ~F.isnan(v) & (F.abs(v) != F.lit(float("inf")))


def _dedup_by_pred_obj(arr) -> F.Column:
    """Keep the first struct per (pred, obj) inside one turn's value array
    — extract._dedupe_turn's triple-identity contract, shuffle-free."""
    return F.filter(
        arr,
        lambda x, i: ~F.exists(
            F.slice(arr, 1, i),
            lambda y: (y["pred"] == x["pred"]) & (y["obj"] == x["obj"]),
        ),
    )


def value_mentions_jvm(transcripts: DataFrame, lex: Lexicon) -> DataFrame:
    """X1-X4 as pure Catalyst: date ⊐ range ⊐ number precedence via a
    LINEAR chain of regexp_replace masking stages, unit attachment via a
    trailing capture, calendar validation via try_to_date (NULL on
    invalid = Python's ValueError skip). Emits MENTION_SCHEMA rows with
    kind ∈ {number, range, date}; begin/end are -1 (offsets are a
    Python-path concept).

    Performance notes (measured 30×):

    - masking must NOT be expressed as per-fragment literal replaces
      inside higher-order lambdas — Catalyst's subexpression elimination
      cannot see into LambdaFunction subtrees, so each of the 8 grammar
      stages would re-evaluate every earlier stage and the expression cost
      explodes combinatorially. The one semantic consequence: a
      calendar-INVALID date-shaped string (2019-13-45) is masked here but
      re-scanned as range/number by the Python path — no corpus case
      exercises it (golden parity holds).
    - each masking stage and its fragment array are STAGED as named
      projection columns (r3): a stage attribute is referenced twice (its
      own extract + the next stage's replace), which blocks
      CollapseProject from re-inlining, so the logical tree stays linear
      — smaller analysis/optimizer input and less generated code than the
      nested-expression form."""
    src = transcripts.where(
        F.col("text").isNotNull() & (F.length(F.trim("text")) > 0)
        & F.col("text").rlike(r"\d")
    ).select("conv_id", "turn_idx", "text")

    age_ctx = F.col("text").rlike(_AGE_CTX_PAT)

    def date_structs(pat, dg, mg, yg, mon_is_name):
        def build(x):
            d = F.lit(1) if dg is None else F.regexp_extract(x, pat, dg).cast("int")
            m = (
                F.lit(1)
                if mg is None
                else (
                    _month_no_col(F.regexp_extract(x, pat, mg))
                    if mon_is_name
                    else F.regexp_extract(x, pat, mg).cast("int")
                )
            )
            y = F.regexp_extract(x, pat, yg).cast("int")
            # try_to_date validates the real calendar (2019-02-30 → NULL)
            # without ANSI exceptions — the twin of Python's ValueError skip
            dt = F.try_to_date(
                F.concat_ws("-", y.cast("string"), m.cast("string"), d.cast("string")),
                "y-M-d",
            )
            return F.struct(
                F.lit("date").alias("kind"),
                x.alias("surface"),
                F.concat(F.lit("date:"), dt.cast("string")).alias("obj"),
                F.lit(None).cast("double").alias("num"),
                F.lit(None).cast("double").alias("lo"),
                F.lit(None).cast("double").alias("hi"),
                F.lit(None).cast("string").alias("unit"),
                dt.isNotNull().alias("ok"),
            )

        return build

    # --- dates, in frozen priority order; each pattern extracts from the
    # text as masked by all earlier patterns, then masks its own matches.
    # Fragments and masked stages become projection columns (see above).
    df = src
    prev = "text"
    all_pats = [p[0] for p in _DATE_PATS] + [_RANGE_PAT, _BETWEEN_PAT]
    for i, pat in enumerate(all_pats):
        nxt = f"_s{i + 1}"
        df = df.withColumns({
            f"_f{i}": F.regexp_extract_all(F.col(prev), F.lit(pat), 0),
            nxt: F.regexp_replace(F.col(prev), pat, " "),
        })
        prev = nxt
    df = df.withColumn("_f7", F.regexp_extract_all(F.col(prev), F.lit(_NUM_PAT), 0))

    all_dates = None
    for i, (pat, dg, mg, yg, mon_is_name) in enumerate(_DATE_PATS):
        structs = F.filter(
            F.transform(F.col(f"_f{i}"), date_structs(pat, dg, mg, yg, mon_is_name)),
            lambda x: x["ok"],
        )
        all_dates = structs if all_dates is None else F.concat(all_dates, structs)

    # --- ranges on date-masked text (plain form, then between-form)
    def range_structs(pat):
        def build(x):
            lo = F.regexp_extract(x, pat, 1).cast("double")
            hi = F.regexp_extract(x, pat, 2).cast("double")
            lo2, hi2 = F.least(lo, hi), F.greatest(lo, hi)
            unit = _unit_canon(F.nullif(F.regexp_extract(x, pat, 3), F.lit("")), lex)
            return F.struct(
                F.lit("range").alias("kind"),
                x.alias("surface"),
                F.concat(
                    F.lit("range:["), _fmt_num(lo2), F.lit(","), _fmt_num(hi2),
                    F.lit("]"), F.coalesce(unit, F.lit("")),
                ).alias("obj"),
                F.lit(None).cast("double").alias("num"),
                lo2.alias("lo"),
                hi2.alias("hi"),
                unit.alias("unit"),
                (_finite(lo) & _finite(hi)).alias("ok"),
            )

        return build

    ranges = None
    for i, pat in enumerate((_RANGE_PAT, _BETWEEN_PAT)):
        structs = F.filter(
            F.transform(F.col(f"_f{len(_DATE_PATS) + i}"), range_structs(pat)),
            lambda x: x["ok"],
        )
        ranges = structs if ranges is None else F.concat(ranges, structs)

    # --- numbers on date+range-masked text
    def num_struct(x):
        v = F.regexp_extract(x, _NUM_PAT, 1).cast("double")
        unit = _unit_canon(F.nullif(F.regexp_extract(x, _NUM_PAT, 2), F.lit("")), lex)
        return F.struct(
            F.lit("number").alias("kind"),
            x.alias("surface"),
            F.concat(F.lit("num:"), _fmt_num(v)).alias("obj"),
            v.alias("num"),
            F.lit(None).cast("double").alias("lo"),
            F.lit(None).cast("double").alias("hi"),
            unit.alias("unit"),
            _finite(v).alias("ok"),
        )

    nums = F.filter(F.transform(F.col("_f7"), num_struct), lambda x: x["ok"])

    vals = F.concat(all_dates, ranges, nums)
    # route predicates in-array so the per-turn (pred, obj) dedup —
    # extract._dedupe_turn's contract — stays shuffle-free. The chain is
    # generated from extract.PRED_ROUTING (single source of truth).
    is_age_unit = lambda x: x["unit"].isin(sorted(TIME_UNITS)) & age_ctx  # noqa: E731
    routed = F.transform(
        vals,
        lambda x: x.withField("pred", pred_when_chain(x["kind"], is_age_unit(x))),
    )
    deduped = _dedup_by_pred_obj(routed)

    exploded = df.select(
        "conv_id",
        "turn_idx",
        F.concat_ws(":", "conv_id", "turn_idx").alias("subj"),
        age_ctx.alias("age_ctx"),
        F.explode(deduped).alias("m"),
    )
    return exploded.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        "subj",
        F.col("m.kind").alias("kind"),
        F.col("m.surface").alias("surface"),
        F.lit(None).cast("string").alias("match_norm"),
        F.lit(None).cast("string").alias("match_kind"),
        F.lit(-1).alias("begin"),
        F.lit(-1).alias("end"),
        F.col("m.obj").alias("obj"),
        F.col("m.num").alias("num"),
        F.col("m.lo").alias("lo"),
        F.col("m.hi").alias("hi"),
        F.col("m.unit").alias("unit"),
        "age_ctx",
    )


# Bloom sizing: ~32 bits/key (≈3% FP at 1 probe), clamped to [2^12, 2^18]
# bits. Adaptive because the literal's py4j transfer costs ~0.5 ms per
# element — a fixed 4096-long bitset added ~2 s of PLAN-BUILD time per
# query even for a 14-term dictionary.
_BLOOM_MIN_BITS, _BLOOM_MAX_BITS = 12, 18

# pure-Python XXH64 (the public-domain xxHash algorithm) producing exactly
# Spark's xxhash64(seed=42) on UTF-8 bytes — asserted by a unit test. Used
# only at PLAN BUILD time to populate the Bloom literal; the per-row probe
# is Spark's native xxhash64.
_M64 = (1 << 64) - 1
_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def xxh64(data: bytes, seed: int = 42) -> int:
    n = len(data)
    i = 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed & _M64,
             (seed - _P1) & _M64]
        while i + 32 <= n:
            for j in range(4):
                k = int.from_bytes(data[i + 8 * j:i + 8 * j + 8], "little")
                v[j] = (_rotl((v[j] + k * _P2) & _M64, 31) * _P1) & _M64
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for vj in v:
            h = ((h ^ ((_rotl((vj * _P2) & _M64, 31) * _P1) & _M64)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        k = int.from_bytes(data[i:i + 8], "little")
        h = ((_rotl((h ^ ((_rotl((k * _P2) & _M64, 31) * _P1) & _M64)), 27) * _P1) + _P4) & _M64
        i += 8
    if i + 4 <= n:
        k = int.from_bytes(data[i:i + 4], "little")
        h = ((_rotl(h ^ ((k * _P1) & _M64), 23) * _P2) + _P3) & _M64
        i += 4
    while i < n:
        h = (_rotl(h ^ ((data[i] * _P5) & _M64), 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


# per-process cache of built Bloom literals. A Column is an unresolved
# expression tree — safe to reuse across queries/sessions. Bounded FIFO
# (r3 ADVICE): distinct token sets track distinct lexicons, so growth is
# normally tiny, but a driver cycling many lexicons must not pin every
# old bitset literal forever.
_BLOOM_CACHE: dict[frozenset, tuple[Column, int]] = {}
_BLOOM_CACHE_MAX = 8


def _bloom_lit(tokens) -> tuple[Column, int]:
    """Driver-side Bloom filter over a token set as (array literal,
    m_bits); the Spark-side probe (_bloom_test) computes the identical
    xxhash64 bit, so membership is exact-superset: no false negatives,
    ~3% false positives that the gram join rejects anyway.

    The bitset ships as ONE CSV string literal that Catalyst's
    ConstantFolding evaluates into the array Literal at optimization time
    (split+cast of a foldable input — verified to fold even inside
    higher-order-function lambda bodies). F.lit(python_list) marshals
    element-by-element over py4j at ~0.5 ms/element — a 4096-word bitset
    cost ~2.3 s of plan-build wall; the folded form is ~8 ms."""
    key = frozenset(tokens)
    hit = _BLOOM_CACHE.get(key)
    if hit is not None:
        return hit
    n = max(len(key), 1)
    m_bits = 1 << max(_BLOOM_MIN_BITS, min(_BLOOM_MAX_BITS, (32 * n).bit_length()))
    words = [0] * (m_bits // 64)
    for t in key:
        h = xxh64(t.encode("utf-8")) % m_bits
        words[h // 64] |= 1 << (h % 64)
    csv = ",".join(
        str(w - (1 << 64) if w >= (1 << 63) else w) for w in words
    )
    lit = F.split(F.lit(csv), ",").cast("array<bigint>")
    while len(_BLOOM_CACHE) >= _BLOOM_CACHE_MAX:
        _BLOOM_CACHE.pop(next(iter(_BLOOM_CACHE)))
    _BLOOM_CACHE[key] = (lit, m_bits)
    return lit, m_bits


def _bloom_test(bloom: tuple[Column, int], tok: Column) -> Column:
    """Pure-codegen membership probe: one native xxhash64 + array index +
    shift — no string allocation. This is the 'broadcast trie' gate that
    keeps per-token matching cost independent of dictionary size — the JVM
    twin of the Python matcher's first-token index (Lexicon.matcher_index)."""
    bloom_lit, m_bits = bloom
    h = F.pmod(F.xxhash64(tok), F.lit(m_bits))
    word = F.element_at(bloom_lit, (h / 64).cast("int") + 1)
    # column-valued shift count: the SQL function accepts it, the python
    # wrapper F.shiftright only takes a literal int
    return F.call_function("shiftright", word, (h % 64).cast("int")).bitwiseAND(
        F.lit(1)
    ) == 1


# per-process cache of the dictionary-derived frames: for the 5k-term
# bench lexicon (10k grams, 5k anchors) one uncached call costs 30-50 ms
# on a 4-core box (the row loop plus the Arrow local_frame build; a hit
# costs <1 ms), and every query over the same dictionary re-derives
# identical frames. Keyed by
# (session, lexicon) object identity. Lifecycle (r3 ADVICE): the lexicon
# is held only through a weakref and entries bound to a STOPPED
# SparkSession are evicted before every lookup, so a long-lived driver
# that cycles sessions or lexicons cannot accumulate unreleasable
# DataFrames. Evict-before-get also makes id() recycling safe: a dead
# entry is gone before a new object with a reused id can be looked up.
_FRAME_CACHE: dict[tuple, tuple] = {}  # key -> (spark, lex_weakref, *payload)


def _session_stopped(spark: SparkSession) -> bool:
    try:
        return bool(spark.sparkContext._jsc.sc().isStopped())
    except Exception:
        return True  # context already torn down


def _frame_cache_get(kind: str, spark: SparkSession, lex: Lexicon):
    for k, ent in list(_FRAME_CACHE.items()):
        if ent[1]() is None or _session_stopped(ent[0]):
            del _FRAME_CACHE[k]
    ent = _FRAME_CACHE.get((kind, id(spark), id(lex)))
    return None if ent is None else ent[2:]


def _frame_cache_put(kind: str, spark: SparkSession, lex: Lexicon, *payload):
    import weakref

    _FRAME_CACHE[(kind, id(spark), id(lex))] = (spark, weakref.ref(lex), *payload)


def _lexicon_grams(
    spark: SparkSession, lex: Lexicon
) -> tuple[DataFrame, int, set[str]]:
    """(gram_key, match_norm, match_kind, term_id, kind_rank) — one row per
    exact surface, keyed by its token-joined form. Returns the frame, the
    max gram length, and the set of surface FIRST tokens (the Bloom keys)."""
    hit = _frame_cache_get("grams", spark, lex)
    if hit is not None:
        return hit
    rows = []
    max_len = 1
    first_toks: set[str] = set()
    for surf, (tid, kind) in lex.surface_map.items():
        toks = _TOKEN_RE.findall(surf)
        if not toks:
            continue
        max_len = max(max_len, len(toks))
        first_toks.add(toks[0])
        rows.append((" ".join(toks), surf, kind, tid, 0 if kind == "label" else 1))
    df = local_frame(
        spark,
        rows,
        "gram_key string, match_norm string, match_kind string, term_id string, kind_rank int",
    )
    _frame_cache_put("grams", spark, lex, df, max_len, first_toks)
    return df, max_len, first_toks


def _label_anchors(
    spark: SparkSession, lex: Lexicon
) -> tuple[DataFrame, set[str]]:
    """MEDIUM containment as an ANCHOR index: one row per multi-token
    label, keyed by its rarest token (global document frequency across the
    label set, ties broken lexicographically), carrying the remaining
    tokens for an in-row verify. Joining on the single anchor instead of
    every label token (the r2 inverted index) does two things at once:

    - the broadcast-join fanout drops from sum(|label|) rows per matching
      token to at most one row per (turn, anchor) — and rare anchors match
      almost never;
    - containment becomes row-local (forall token ∈ toks), so the
      countDistinct==n_toks groupBy — a whole shuffle stage — disappears.

    Returns (frame(tok, term_id, match_norm, req), anchor-token set)."""
    hit = _frame_cache_get("anchors", spark, lex)
    if hit is not None:
        return hit
    df_count: dict[str, int] = {}
    for _tid, toks in lex.token_labels:
        for tk in set(toks):
            df_count[tk] = df_count.get(tk, 0) + 1
    rows = []
    anchor_toks: set[str] = set()
    for tid, toks in lex.token_labels:
        uniq = sorted(set(toks))
        anchor = min(uniq, key=lambda tk: (df_count[tk], tk))
        anchor_toks.add(anchor)
        rows.append(
            (anchor, tid, " ".join(toks), [tk for tk in uniq if tk != anchor])
        )
    df = local_frame(
        spark, rows, "tok string, term_id string, match_norm string, req array<string>"
    )
    _frame_cache_put("anchors", spark, lex, df, anchor_toks)
    return df, anchor_toks


def term_mentions_jvm(
    spark: SparkSession, transcripts: DataFrame, lex: Lexicon
) -> DataFrame:
    """X5 as a broadcast gram join: explode the turn's 1..k-token windows,
    hash-join them against the (tiny, broadcast) surface dictionary, keep
    the best match per (turn, term) — label ⊐ synonym ⊐ tokens, then
    earliest position (extract._dedupe_turn's term contract). Both the
    exact-gram and the anchor-keyed containment joins are shuffle-free
    broadcasts; the ONLY shuffle is the final partial-aggregated
    best-match reduction of mention-sized rows."""
    lex_grams, max_len, first_toks = _lexicon_grams(spark, lex)
    label_anchors, anchor_toks = _label_anchors(spark, lex)
    exact_bloom = _bloom_lit(first_toks)
    anchor_bloom = _bloom_lit(anchor_toks)

    src = transcripts.where(
        F.col("text").isNotNull() & (F.length(F.trim("text")) > 0)
    ).select(
        "conv_id",
        "turn_idx",
        F.concat_ws(":", "conv_id", "turn_idx").alias("subj"),
        (F.col("text").rlike(_AGE_CTX_PAT) & F.col("text").rlike(r"\d")).alias("age_ctx"),
        F.regexp_extract_all(F.lower("text"), F.lit(r"(\w+)"), 1).alias("toks"),
    )

    # candidate start positions: only tokens that pass the first-token
    # Bloom gate grow grams — gram-string construction and the join input
    # shrink ~50-100× (the overwhelming majority of turn tokens start no
    # dictionary surface). No false negatives by construction. The hit
    # scan is the ONE remaining higher-order function (a per-token
    # interpreted Bloom probe); everything downstream is
    # explode-then-codegen (r3): hit positions become ROWS first, then
    # gram construction, the length-bound filter and the dictionary probe
    # all run as top-level whole-stage-codegen expressions instead of
    # interpreted array lambdas — and per-row work after the explode is
    # proportional to Bloom HITS, not turn tokens.
    hits = F.filter(
        F.sequence(F.lit(1), F.greatest(F.size("toks"), F.lit(1))),
        lambda i: (i <= F.size("toks"))
        & _bloom_test(exact_bloom, F.element_at("toks", i)),
    )
    hitrows = src.select(
        "conv_id", "turn_idx", "subj", "age_ctx", "toks",
        F.size("toks").alias("ntoks"),
        F.explode(hits).alias("pos"),
    )
    kgrams = F.array(*[
        F.struct(
            F.array_join(F.slice("toks", F.col("pos"), k), " ").alias("gram"),
            F.lit(k).alias("klen"),
        )
        for k in range(1, max_len + 1)
    ])
    grams = (
        hitrows.select(
            "conv_id", "turn_idx", "subj", "age_ctx", "ntoks", "pos",
            F.explode(kgrams).alias("g"),
        )
        .where(F.col("pos") + F.col("g.klen") - 1 <= F.col("ntoks"))
        .select("conv_id", "turn_idx", "subj", "age_ctx",
                F.col("g.gram").alias("gram"), "pos")
    )

    exact = grams.join(
        F.broadcast(lex_grams), grams.gram == lex_grams.gram_key, "inner"
    ).select(
        "conv_id", "turn_idx", "subj", "age_ctx",
        "match_norm", "match_kind", "term_id", "kind_rank", "pos",
    )

    # MEDIUM: all tokens of a multi-token label present anywhere in the
    # turn; the exact path wins on the final min_by (kind_rank 2). The
    # anchor design (_label_anchors): join only the label's rarest token,
    # then verify the remaining tokens row-locally — a broadcast join plus
    # a filter, NO containment shuffle. The anchor Bloom gate inside the
    # HOF keeps the explode proportional to anchor hits, and the join key
    # is unique per (turn, term) so the result needs no dedup.
    anchor_hits = F.filter(
        F.array_distinct("toks"), lambda tk: _bloom_test(anchor_bloom, tk)
    )
    tok_rows = src.select(
        "conv_id", "turn_idx", "subj", "age_ctx", "toks",
        F.explode(anchor_hits).alias("tok"),
    )
    medium = (
        tok_rows.join(F.broadcast(label_anchors), "tok")
        .where(F.forall("req", lambda r: F.array_contains("toks", r)))
        .select(
            "conv_id", "turn_idx", "subj", "age_ctx", "match_norm",
            F.lit("tokens").alias("match_kind"), "term_id",
            F.lit(2).alias("kind_rank"),
            F.lit(10**9).alias("pos"),
        )
    )

    best = (
        exact.unionByName(medium)
        .groupBy("subj", "term_id")
        .agg(
            F.min_by(
                F.struct("conv_id", "turn_idx", "age_ctx", "match_norm", "match_kind", "pos"),
                F.struct("kind_rank", "pos", "match_norm"),
            ).alias("m")
        )
    )
    return best.select(
        F.col("m.conv_id").alias("conv_id"),
        F.col("m.turn_idx").cast("int").alias("turn_idx"),
        "subj",
        F.lit("term").alias("kind"),
        F.col("m.match_norm").alias("surface"),
        F.col("m.match_norm").alias("match_norm"),
        F.col("m.match_kind").alias("match_kind"),
        F.col("m.pos").alias("begin"),
        F.lit(-1).alias("end"),
        F.lit(None).cast("string").alias("obj"),
        F.lit(None).cast("double").alias("num"),
        F.lit(None).cast("double").alias("lo"),
        F.lit(None).cast("double").alias("hi"),
        F.lit(None).cast("string").alias("unit"),
        F.col("m.age_ctx").alias("age_ctx"),
    )


def extract_mentions_jvm(
    spark: SparkSession, transcripts: DataFrame, lex: Lexicon
) -> DataFrame:
    """Drop-in JVM twin of extract.extract_mentions: same MENTION_SCHEMA
    column set, zero Python workers."""
    return value_mentions_jvm(transcripts, lex).unionByName(
        term_mentions_jvm(spark, transcripts, lex)
    )
