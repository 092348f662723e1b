"""Mergeable sketch states: grid quantiles, HLL distinct counts
(DataSketches AND an engine-portable md5 variant whose estimate a SQL
oracle replays bit-for-bit), CountMin frequencies, KMV bottom-k (the set-INTERSECTION-capable member, with
all-pairs Jaccard powering sketch-based schema matching), plus
quantile-cut feature binning and trailing-window rolling uniques.

Percentiles, cardinalities and frequent items are not algebraic: unlike
SUM/COUNT (plans/materialize.py's agg_state_merge), you cannot keep one
partial number per partition and merge later. The standard large-scale answer is a MERGEABLE SKETCH
(t-digest / KLL / HdrHistogram family — public literature): keep a small
histogram state per key, merge states by adding counts, extract
quantiles from the merged state with bounded error. This module is that
discipline in pure DataFrame algebra, with the bucket math chosen so two
independent engines agree BIT-FOR-BIT:

- values are micro-quantized to integers first (round(v·quant) as long —
  the same kernel as emb_centroids / doc_fluency), so bucketing is
  integer division, not float floor;
- quantile rank tests are integer cross-multiplications
  (cum·den ≥ num·total), never a float compare;
- the only doubles produced are final exact-integer → double conversions
  (correctly rounded, engine-identical).

Scale shape: the state is ≤ (distinct keys × n_buckets) rows built by one
map-side-combinable count shuffle — at 100 TB the state for a 10k-bucket
grid over 1k keys is 10M rows regardless of input size, and INCREMENTAL:
yesterday's state plus today's delta state merge by a tiny groupBy-sum
(the materialized-view maintenance property agg_state_merge proves for
sums, extended here to percentiles). Extraction is a window over the
state, not the data. Error bound: a returned quantile is the upper edge
of the first bucket whose cumulative count reaches the rank, so it is
within one bucket width above the true value — the classic fixed-grid
guarantee (an HdrHistogram log-grid would make the width relative; the
grid choice is orthogonal to the merge discipline demonstrated here).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import hash64


def grid_quantile_state(
    df: DataFrame, key_cols: list[str], value_col: str,
    lo: float, hi: float, n_buckets: int, quant: int = 100,
) -> DataFrame:
    """(keys…, bucket, cnt) histogram state. Values are micro-quantized
    (round(v·quant) → long), clamped into [lo, hi) so outliers land in
    the end buckets, then bucketed by INTEGER division — every engine
    computes the identical bucket for the identical value."""
    lo_q = round(lo * quant)
    hi_q = round(hi * quant)
    if (hi_q - lo_q) % n_buckets:
        raise ValueError("bucket grid must divide the quantized range exactly")
    width_q = (hi_q - lo_q) // n_buckets
    vq = F.round(F.col(value_col) * F.lit(float(quant))).cast("long")
    clamped = F.least(F.greatest(vq, F.lit(lo_q)), F.lit(hi_q - 1))
    return (
        df.select(*key_cols, clamped.alias("_cq"))
        .select(*key_cols, F.expr(f"(_cq - {lo_q}) div {width_q}").alias("bucket"))
        .groupBy(*key_cols, "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def _merge_states(states, agg_map: dict) -> DataFrame:
    """Shared merge shape of the whole family: union the partial-state
    frames, groupBy every NON-state column, re-aggregate the state
    columns. Pins the one convention in one place: the state column
    names (agg_map's keys — "cnt", "sk", "err") are RESERVED; a key
    column reusing one of them would be silently folded into the
    aggregate, so the builders alias their states away from user keys
    and callers must not name keys after them."""
    u = reduce(DataFrame.unionByName, states)
    keys = [c for c in u.columns if c not in agg_map]
    return u.groupBy(*keys).agg(*[a.alias(c) for c, a in agg_map.items()])


def merge_quantile_states(*states: DataFrame) -> DataFrame:
    """Merge = union + sum: the whole point of the sketch. Exact — the
    merged state is row-identical to the state of the concatenated
    inputs (asserted in tests), so incremental maintenance loses
    nothing."""
    return _merge_states(states, {"cnt": F.sum("cnt")})


def state_quantiles(
    state: DataFrame, key_cols: list[str],
    quantiles: dict[str, tuple[int, int]],
    lo: float, hi: float, n_buckets: int, quant: int = 100,
) -> DataFrame:
    """Extract quantiles from a (possibly merged) state: per key, the
    q-quantile estimate is the UPPER EDGE of the first bucket whose
    cumulative count reaches ⌈q·total⌉ — rank test as integer
    cross-multiply cum·den ≥ num·total. quantiles maps output column →
    (num, den), e.g. {"p50": (1, 2), "p95": (19, 20)}.

    (lo, hi, n_buckets, quant) MUST be the values the state was built
    with — the state carries bucket indexes, not edges, so mismatched
    parameters rescale every returned edge. The same divisibility check
    as grid_quantile_state catches the grid-shape half of that mistake;
    the rest is the caller's contract (a production wrapper would store
    the grid parameters next to the state, as the streaming maintainer's
    state directory does with its marker)."""
    lo_q = round(lo * quant)
    if (round(hi * quant) - lo_q) % n_buckets:
        raise ValueError("bucket grid must divide the quantized range exactly")
    width_q = (round(hi * quant) - lo_q) // n_buckets
    w_cum = (
        Window.partitionBy(*key_cols).orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*key_cols)
    c = state.select(
        *key_cols, "bucket",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("total"),
    )
    upper_edge = (
        (F.lit(lo_q) + (F.col("bucket") + 1) * F.lit(width_q))
        .cast("double") / F.lit(float(quant))
    )
    aggs = [
        F.min(
            F.when(F.col("cum") * F.lit(den) >= F.col("total") * F.lit(num),
                   upper_edge)
        ).alias(name)
        for name, (num, den) in quantiles.items()
    ]
    return c.groupBy(*key_cols).agg(*aggs)


# ---------------------------------------------------------------- HLL

def hll_state(df: DataFrame, key_cols: list[str], value_col: str) -> DataFrame:
    """(keys…, sk binary) mergeable distinct-count state via Spark's
    Apache DataSketches HLL (hll_sketch_agg) — the cardinality member
    of the mergeable-state family (counts: agg_state_merge, quantiles:
    grid_quantile_state). Register merge is a per-index max
    (hll_union_agg), so union order and partitioning cannot change the
    estimate."""
    return df.groupBy(*key_cols).agg(
        F.hll_sketch_agg(value_col).alias("sk")
    )


# ------------------------------------------------------------ CountMin

def _cms_col(value: F.Column, r: F.Column, width: int) -> F.Column:
    """Counter column for hash row r: top-60-bits-of-md5 of
    value||'#cms'||r, pmod width — the engine-portable kernel
    (dedup.hash64's md5 branch with the row index folded into the
    seed), so a SQL oracle computes the identical grid position."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(value, F.lit("#cms"), r.cast("string"))), 1, 15
        ),
        16, 10,
    ).cast("long")
    return F.pmod(h, F.lit(width))


def cms_state(
    df: DataFrame, value_col: str, depth: int = 4, width: int = 1024,
    key_cols: list[str] | None = None, weight_col: str | None = None,
) -> DataFrame:
    """(keys…, r, c, cnt) CountMin state (Cormode & Muthukrishnan): a
    depth×width counter grid per key group; each input row adds its
    weight (default 1) to one counter per hash row. The point-frequency
    member of the mergeable-state family — it never UNDER-counts
    (every occurrence lands in the grid), at the price of
    collision overestimates bounded by e·N/width with probability
    1 − e^−depth (the classic bound).

    Scale shape: one explode (×depth) + one map-side-combinable count
    shuffle; the state is ≤ keys × depth × width rows REGARDLESS of
    input size, and fully deterministic (pure function of the value
    multiset, so it IS value-oracled). Merge = union + groupBy-sum, exact:
    grid(A ∪ B) = grid(A) + grid(B) cell-for-cell."""
    keys = list(key_cols or [])
    w = (F.col(weight_col).cast("long") if weight_col else F.lit(1).cast("long"))
    base = df.select(
        *keys, F.col(value_col).cast("string").alias("_v"), w.alias("_w")
    ).where(F.col("_v").isNotNull())
    rows = base.withColumn(
        "r", F.explode(F.sequence(F.lit(0), F.lit(depth - 1)))
    )
    return (
        rows.select(
            *keys, "r", _cms_col(F.col("_v"), F.col("r"), width).alias("c"),
            "_w",
        )
        .groupBy(*keys, "r", "c")
        .agg(F.sum("_w").alias("cnt"))
    )


def merge_cms_states(*states: DataFrame) -> DataFrame:
    """Cell-wise sum — row-identical to the state of the concatenated
    inputs (asserted in tests): the CountMin grid is a commutative
    monoid, the incremental-maintenance property shared by the whole
    family."""
    return _merge_states(states, {"cnt": F.sum("cnt")})


def cms_estimates(
    state: DataFrame, items: DataFrame, value_col: str,
    depth: int = 4, width: int = 1024, key_cols: list[str] | None = None,
) -> DataFrame:
    """Point-frequency estimates for `items` (one row per item, plus the
    key columns when the state is per-key): est = min over hash rows of
    the item's counter, absent cells counting 0. (depth, width) MUST be
    the values the state was built with — same caller contract as
    state_quantiles' grid parameters. Guarantee (tested): true ≤ est,
    and est = true exactly when none of the item's depth cells collide.
    The probe is items×depth rows joined against the sketch-sized state
    — broadcastable both ways; never touches the original data."""
    keys = list(key_cols or [])
    probe = (
        items.select(
            *keys, F.col(value_col).cast("string").alias("_v")
        )
        .withColumn("r", F.explode(F.sequence(F.lit(0), F.lit(depth - 1))))
        .withColumn("c", _cms_col(F.col("_v"), F.col("r"), width))
    )
    joined = probe.join(state, keys + ["r", "c"], "left")
    return (
        joined.groupBy(*keys, "_v")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
        .withColumnRenamed("_v", value_col)
    )


def cms_join_size(
    state_a: DataFrame, state_b: DataFrame,
    depth: int = 4, width: int = 1024,
) -> DataFrame:
    """Equi-join cardinality estimate from two CountMin grids → ONE row
    (est, depth, width): |A ⋈ B| on the sketched key ≈ min over hash
    rows of the grids' INNER PRODUCT Σ_c a[r,c]·b[r,c] — the classic
    AMS/CMS identity (Cormode & Muthukrishnan §4.2): each row's inner
    product is Σ_v f_A(v)·f_B(v) plus non-negative collision cross
    terms, so every row OVER-estimates the true join size and the min
    is the tightest; error ≤ e·N_A·N_B/width per the standard bound.

    This is the query-planning primitive the mergeable-state family
    feeds at 100 TB: join-size estimates from sketch-sized state ALONE
    — deciding broadcast vs shuffle vs skew-salt BEFORE touching either
    table (the grids are maintained incrementally by stream_cms_counts
    or merged from per-partition states). Cost: one equi-join of two
    depth×width relations + one depth-sized aggregate — independent of
    data size. Exact integer arithmetic (products and sums of longs),
    deterministic, SQL-replayable. Absent cells are zero (the inner
    join drops them), and a hash row with NO coinciding cells has
    inner product 0 — it vanishes from the join entirely, so the final
    aggregate checks the surviving row count and reports 0 when any
    row is empty (min over present rows alone would overestimate).

    (depth, width) MUST match the values both states were built with —
    the cms_estimates caller contract; inner products across different
    grid geometries are meaningless."""
    pa = state_a.select("r", "c", F.col("cnt").alias("_a"))
    pb = state_b.select("r", "c", F.col("cnt").alias("_b"))
    per_row = (
        pa.join(pb, ["r", "c"])
        .groupBy("r")
        .agg(F.sum(F.col("_a") * F.col("_b")).alias("ip"))
    )
    return per_row.agg(
        F.when(F.count(F.lit(1)) < depth, F.lit(0))
        .otherwise(F.min("ip")).cast("long").alias("est"),
        F.lit(depth).cast("long").alias("depth"),
        F.lit(width).cast("long").alias("width"),
    )


def rolling_hll_uniques(
    df: DataFrame,
    value_col: str,
    ts_col: str = "ts",
    bucket_seconds: int = 86400,
    trailing: int = 7,
) -> DataFrame:
    """Trailing-window distinct-count estimates from mergeable HLL
    states: per observed time bucket, the estimated number of distinct
    `value_col`s seen in the `trailing` buckets ending at it (current
    bucket inclusive) — the "7-day rolling uniques" report. Returns
    (bucket, n_buckets_merged, n_est).

    This is THE case for mergeable sketches over exact counting: the
    data is scanned ONCE (one map-side-combinable hll_sketch_agg per
    bucket), and every window is then a union of ≤ `trailing`
    kilobyte-sized register states — a buckets-domain range join, so
    adding a window length or recomputing a day costs sketch merges,
    not a rescan. The exact alternative re-shuffles the full (bucket,
    key) relation once per window length. Register merge is per-index
    max ⇒ bucket order and partitioning cannot change any estimate.

    The estimate column carries the DataSketches HLL error (~1.6% rsd
    at the default lgConfigK); pair with an exact column in a checking
    harness, as the engine's tolerance-flag queries do."""
    from .funnel import _epoch_floor

    epoch = _epoch_floor(ts_col)
    bucket = (epoch - F.pmod(epoch, F.lit(bucket_seconds))).alias("bucket")
    states = hll_state(
        df.select(bucket, F.col(value_col).alias("_v")), ["bucket"], "_v"
    )
    anchors = states.select(F.col("bucket").alias("wb"))
    span = (trailing - 1) * bucket_seconds
    return (
        anchors.join(
            states,
            (F.col("bucket") <= F.col("wb"))
            & (F.col("bucket") >= F.col("wb") - F.lit(span)),
        )
        .groupBy("wb")
        .agg(
            F.count(F.lit(1)).alias("n_buckets_merged"),
            F.hll_union_agg("sk").alias("sk"),
        )
        .select(
            F.col("wb").alias("bucket"),
            "n_buckets_merged",
            F.hll_sketch_estimate("sk").alias("n_est"),
        )
    )


def bucketize_by_quantiles(
    df: DataFrame,
    value_col: str,
    cuts: DataFrame,
    cut_cols: list[str],
    out_col: str = "qbin",
) -> DataFrame:
    """Quantile discretization: assign each row the bin index
    Σ_i I(value ≥ cut_i) over the single-row `cuts` frame (e.g.
    state_quantiles' output) — the feature-binning step that turns a
    heavy-tailed score into an equal-mass categorical for training or
    stratification. Bin 0 is below every cut; bin len(cut_cols) is at
    or above the last.

    The sum-of-indicators form needs no ordering assumption on
    cut_cols and no when-chain — it is a flat codegen expression after
    a broadcast of one row. NULL values get a NULL bin (any comparison
    with NULL nulls the indicator sum via a guard, rather than
    silently binning NULLs at 0)."""
    b = F.broadcast(cuts.select(*cut_cols))
    ind = None
    for c in cut_cols:
        term = F.when(F.col(value_col) >= F.col(c), 1).otherwise(0)
        ind = term if ind is None else ind + term
    out = df.crossJoin(b).withColumn(
        out_col,
        F.when(F.col(value_col).isNotNull(), ind.cast("long")),
    )
    return out.drop(*cut_cols)


def portable_hll_state(
    df: DataFrame, key_cols: list[str], value_col: str, p: int = 10,
) -> DataFrame:
    """Engine-portable HLL register state: (keys…, register, rho) with
    rho = max over values hashing to that register — unlike hll_state's
    DataSketches binary (opaque to any other engine), every number here
    is reproducible by any SQL engine with md5, so the DuckDB oracle
    can replay the ENTIRE sketch, estimate included, bit-for-bit.

    Hash layout: h = the md5-long kernel (60 non-negative bits, the
    same portable hash as the MinHash family); register = h mod 2^p;
    w = h div 2^p (a W = 60−p bit word); rho = leading-zero count of w
    within W bits + 1, computed EXACTLY as W − msb(w) + 1 via the
    binary-string length (no float log2), with w = 0 → W + 1.
    Registers no value hashed into are simply absent (sparse state —
    the estimator reconstructs them as zeros).

    Mergeable by construction: merge = groupBy(keys, register)
    max(rho), associative and order-free — the same contract as the
    grid/CMS family, so incremental maintenance and
    cross-partition union cost a registers-sized shuffle (≤ 2^p rows
    per key), never a rescan."""
    m = 1 << p
    w_bits = 60 - p
    h = hash64(F.col(value_col), hasher="md5")
    rho = F.when(
        F.col("_w") == 0, F.lit(w_bits + 1)
    ).otherwise(F.lit(w_bits) - F.length(F.bin(F.col("_w"))) + 1)
    return (
        df.select(*key_cols, h.alias("_h"))
        # integer div, NOT float division: h has 60 bits and doubles
        # only carry 53 — float h/m would corrupt low registers
        .select(
            *key_cols,
            F.pmod(F.col("_h"), F.lit(m)).alias("register"),
            F.expr(f"_h div {m}").alias("_w"),
        )
        .select(*key_cols, "register", rho.cast("long").alias("rho"))
        .groupBy(*key_cols, "register")
        .agg(F.max("rho").alias("rho"))
    )


def merge_portable_hll_states(*states: DataFrame) -> DataFrame:
    return _merge_states(states, {"rho": F.max("rho")})


def portable_hll_estimate(
    state: DataFrame, key_cols: list[str], p: int = 10,
) -> DataFrame:
    """Raw HLL estimate from a portable state, computed entirely in
    integer arithmetic so it is engine-exact: per key,

        S      = Σ_{registers} 2^(62 − rho)   (absent registers rho=0
                 contribute 2^62; S is the harmonic-mean denominator
                 scaled by 2^62 — max 2^p·2^62 < 10^38, DECIMAL-exact)
        n_est  = α_num · m² · 2^62 // (α_den · S)

    with α = 0.7213/(1 + 1.079/m) expressed as the exact rational
    α_num/α_den = 7213000·m / (10⁴·(1000·m + 1079)). This is the RAW
    HyperLogLog estimator: no small-range linear-counting or bias
    correction (both need a float ln/lookup that engines don't agree
    on bit-for-bit), so estimates for n ≲ 2.5·m carry the documented
    raw-HLL overestimation bias — v_zero (empty registers) is emitted
    precisely so a consumer CAN apply linear counting; the exactness
    contract here covers the state and the raw estimator."""
    m = 1 << p
    a_num = 7_213_000 * m
    a_den = 10_000 * (1000 * m + 1079)
    dec = "decimal(38,0)"
    present = state.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("_n_set"),
        F.sum(F.expr("shiftleft(cast(1 as bigint), "
                     "cast(62 - rho as int))").cast(dec))
        .alias("_s_set"),
    )
    s_total = (
        F.col("_s_set")
        + (F.lit(m) - F.col("_n_set")).cast(dec)
        * F.lit(1 << 62).cast(dec)
    )
    num = (
        F.lit(a_num).cast(dec)
        * F.lit(m * m).cast(dec)
        * F.lit(1 << 62).cast(dec)
    )
    den = (F.lit(a_den).cast(dec) * s_total)
    return present.select(
        *key_cols,
        (F.lit(m) - F.col("_n_set")).cast("long").alias("v_zero"),
        ((num - F.pmod(num, den)) / den).cast("long").alias("n_est"),
    )


def kmv_state(
    df: DataFrame, key_cols: list[str], value_col: str, k: int = 64,
) -> DataFrame:
    """KMV (k-minimum-values / bottom-k) sketch: per key the k SMALLEST
    distinct md5-long hashes of the value — the member of the sketch
    family that supports set INTERSECTION estimates (kmv_jaccard),
    which HLL fundamentally cannot (inclusion-exclusion on HLLs
    explodes the error). State = (keys…, h, r) with r the 1-based rank
    of h within the key.

    Fully engine-portable (the md5-long kernel) and value-oracled like
    portable_hll. Merge = union → distinct → re-rank ≤ k
    (merge_kmv_states): bottom-k of a union is the bottom-k of the
    unioned bottom-k's, so incremental maintenance is exact.

    Scale shape (r6): the old single per-key window sorted EVERY
    distinct hash of a key in one task (a handful of keys ⇒ a handful
    of straggler tasks). Bottom-k of a union equals the bottom-k of
    unioned per-part bottom-k's (the merge_kmv_states property), so the
    cut is two-level: salt each hash by pmod(h, S) with S the session
    shuffle parallelism (scale-adaptive, not a local constant), build
    per-(key, salt) sorted distinct sets in ONE grouped shuffle
    (collect_set partial-aggregates map-side — the separate distinct
    exchange is gone), slice each to k, then rank the ≤ S·k surviving
    candidates per key in a second, candidate-sized window. No task
    ever sorts more than ~|distinct|/S + S·k hashes."""
    spark = df.sparkSession
    try:
        n_salt = max(1, int(spark.conf.get("spark.sql.shuffle.partitions")))
    except Exception:
        n_salt = 64
    h = hash64(F.col(value_col), hasher="md5")
    local = (
        df.select(*key_cols, h.alias("h"))
        .groupBy(*key_cols, F.pmod(F.col("h"), F.lit(n_salt)).alias("_salt"))
        .agg(F.slice(F.array_sort(F.collect_set("h")), 1, k).alias("_hs"))
        .select(*key_cols, F.explode("_hs").alias("h"))
    )
    w = Window.partitionBy(*key_cols).orderBy("h")
    return (
        local.withColumn("r", F.row_number().over(w).cast("long"))
        .where(F.col("r") <= k)
    )


def merge_kmv_states(k: int, *states: DataFrame) -> DataFrame:
    from functools import reduce as _reduce

    u = _reduce(DataFrame.unionByName, states)
    keys = [c for c in u.columns if c not in ("h", "r")]
    d = u.select(*keys, "h").dropDuplicates([*keys, "h"])
    w = Window.partitionBy(*keys).orderBy("h")
    return (
        d.withColumn("r", F.row_number().over(w).cast("long"))
        .where(F.col("r") <= k)
    )


def kmv_distinct_estimate(
    state: DataFrame, key_cols: list[str], k: int = 64,
) -> DataFrame:
    """Distinct-count estimate from a KMV state, exact-integer: per key
    (n_state, n_est) where a key holding FEWER than k hashes reports
    its exact distinct count (the sketch saw everything), and a full
    sketch reports the classic unbiased ⌊(k−1)·2^60 / h_k⌋ with h_k
    the k-th minimum over the 60-bit md5 hash space — integer floor
    division, no float, oracle-replayable to the last digit."""
    from decimal import Decimal

    agg = state.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n_state"),
        F.max("h").alias("_hk"),
    )
    dec = "decimal(38,0)"
    # (k-1)·2^60 exceeds int64 — carry it as a DECIMAL literal
    num = F.lit(Decimal((k - 1) * (1 << 60))).cast(dec)
    den = F.col("_hk").cast(dec)
    return agg.select(
        *key_cols, "n_state",
        F.when(F.col("n_state") < k, F.col("n_state"))
        .otherwise(((num - F.pmod(num, den)) / den).cast("long"))
        .alias("n_est"),
    )


def kmv_jaccard(
    state_a: DataFrame, state_b: DataFrame, k: int = 64,
) -> DataFrame:
    """Jaccard similarity of two sets from their KMV states alone —
    the sketch-only set-overlap estimate (dedup-rate between two
    corpus snapshots, entity-set drift between KG runs) computed
    without touching either raw set: take the k smallest hashes of
    the UNION of the two states (an unbiased uniform sample of the
    union), count how many sit in BOTH states, and

        jaccard_micro = n_common·1e6 // k_used
        (k_used = min(k, |union hashes|) — when the union fits the
        sketch entirely the estimate is EXACT)

    One row: (k_used, n_common, jaccard_micro). Everything is integer
    min/rank/count arithmetic over ≤ 2k rows."""
    a = state_a.select("h").dropDuplicates()
    b = state_b.select("h").dropDuplicates()
    u = a.unionByName(b).dropDuplicates()
    w = Window.orderBy("h")
    bot = u.withColumn("r", F.row_number().over(w)).where(F.col("r") <= k)
    marked = (
        bot.join(a.withColumn("_ina", F.lit(1)), "h", "left")
        .join(b.withColumn("_inb", F.lit(1)), "h", "left")
    )
    agg = marked.agg(
        F.count(F.lit(1)).alias("k_used"),
        F.sum(
            F.when(
                F.col("_ina").isNotNull() & F.col("_inb").isNotNull(), 1
            ).otherwise(0)
        ).alias("n_common"),
    )
    dec = "decimal(38,0)"
    num = F.col("n_common").cast(dec) * F.lit(1_000_000).cast(dec)
    den = F.col("k_used").cast(dec)
    return agg.select(
        F.col("k_used").cast("long").alias("k_used"),
        F.col("n_common").cast("long").alias("n_common"),
        F.when(
            F.col("k_used") > 0,
            ((num - F.pmod(num, den)) / den).cast("long"),
        ).alias("jaccard_micro"),
    )


def kmv_jaccard_pairs(
    state_a: DataFrame,
    state_b: DataFrame,
    k: int = 64,
    key_a: str = "col_a",
    key_b: str = "col_b",
) -> DataFrame:
    """All-pairs KMV Jaccard between two KEYED sketch families —
    kmv_jaccard generalized from one pair of sets to the full
    cross-product of two keyed collections, in one plan. The flagship
    use is SCHEMA MATCHING for data integration: sketch every column
    of two tables (unpivot → kmv_state keyed by column name) and this
    returns, per (col_a, col_b), the estimated value-set overlap — the
    join-key discovery report (o_orderkey ↔ l_orderkey surfaces at
    Jaccard ≈ |orders|/|lineitem-distinct| with no schema knowledge).

    Scale shape: the pair domain is |keys_a|·|keys_b| (columns², not
    values²) and every pair's evidence is ≤ 2k sketch rows — the whole
    computation is sketches-sized regardless of table size. One union
    of the two state relations tagged by side, a per-pair rank window
    over ≤ 2k rows, and a combinable count. Same estimator as
    kmv_jaccard: bottom-k of the union is a uniform union sample;
    n_common within it over k_used, floored millionths, EXACT when the
    union fits the sketch."""
    a = state_a.select(
        F.col(key_a).alias("ka"), F.col("h").alias("h")
    ).dropDuplicates()
    b = state_b.select(
        F.col(key_b).alias("kb"), F.col("h").alias("h")
    ).dropDuplicates()
    pairs = (
        a.select("ka").dropDuplicates()
        .crossJoin(b.select("kb").dropDuplicates())
    )
    # tag-and-union: each pair's evidence rows carry side flags, the
    # groupBy collapses a hash present on both sides into one row
    tagged = (
        pairs.join(a, "ka").select(
            "ka", "kb", "h", F.lit(1).alias("_a"), F.lit(0).alias("_b")
        )
        .unionByName(
            pairs.join(b, "kb").select(
                "ka", "kb", "h",
                F.lit(0).alias("_a"), F.lit(1).alias("_b"),
            )
        )
        .groupBy("ka", "kb", "h")
        .agg(F.max("_a").alias("_a"), F.max("_b").alias("_b"))
    )
    w = Window.partitionBy("ka", "kb").orderBy("h")
    bot = tagged.withColumn("r", F.row_number().over(w)).where(
        F.col("r") <= k
    )
    agg = bot.groupBy("ka", "kb").agg(
        F.count(F.lit(1)).alias("k_used"),
        F.sum(
            F.when((F.col("_a") == 1) & (F.col("_b") == 1), 1)
            .otherwise(0)
        ).alias("n_common"),
    )
    dec = "decimal(38,0)"
    num = F.col("n_common").cast(dec) * F.lit(1_000_000).cast(dec)
    den = F.col("k_used").cast(dec)
    return agg.select(
        F.col("ka").alias(key_a), F.col("kb").alias(key_b),
        F.col("k_used").cast("long").alias("k_used"),
        F.col("n_common").cast("long").alias("n_common"),
        ((num - F.pmod(num, den)) / den).cast("long")
        .alias("jaccard_micro"),
    )
