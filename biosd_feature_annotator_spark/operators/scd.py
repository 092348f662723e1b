"""Slowly-changing-dimension (type 2) operators.

``scd2_history`` collapses an append-only change stream (one row per
observation) into versioned dimension rows — consecutive duplicates
merge, each surviving row carries ``effective_from`` /
``effective_to`` / ``is_current``. Pure window
algebra: one shuffle keyed by the dimension key; the two window passes
(change detection, then interval close-out) share the same
partitioning+ordering so Spark plans a single sort.

At 100 TB the dimension key is the shuffle key; skew only matters if
one key has millions of *versions*, which violates the SCD2 model
itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


def scd2_history(
    observations: DataFrame,
    key_cols: list[str],
    attr_col: str,
    ts_col: str = "ts",
    order_col: str | None = None,
) -> DataFrame:
    """Versioned rows from a change stream.

    Keeps the first observation per key and every observation whose
    ``attr_col`` differs (NULL-safely) from the previous one in
    ``(ts_col, order_col)`` order; ``effective_to`` is the next change's
    timestamp, NULL (and ``is_current`` true) for the latest version.
    """
    order = [F.col(ts_col)] + ([F.col(order_col)] if order_col else [])
    w = Window.partitionBy(*key_cols).orderBy(*order)
    changed = (
        observations.select(*key_cols, attr_col, ts_col, *(
            [order_col] if order_col else []))
        .withColumn("_rn", F.row_number().over(w))
        .withColumn("_prev", F.lag(attr_col).over(w))
        # NULL-safe change test: eqNullSafe, NOT <>, so a NULL→value or
        # value→NULL transition is a real new version
        .where((F.col("_rn") == 1) | ~F.col(attr_col).eqNullSafe(F.col("_prev")))
    )
    # same partition+order spec ⇒ the second window reuses the sort
    w2 = Window.partitionBy(*key_cols).orderBy(*order)
    return changed.select(
        *key_cols,
        F.col(attr_col),
        F.col(ts_col).alias("effective_from"),
        F.lead(ts_col).over(w2).alias("effective_to"),
        F.lead(ts_col).over(w2).isNull().alias("is_current"),
    )


def scd2_point_in_time(
    facts: DataFrame,
    dim: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    how: str = "left",
) -> DataFrame:
    """Point-in-time (as-of) lookup: join each fact row to the dimension
    version that was effective AT the fact's timestamp — the
    feature-store primitive that makes type-2 history usable without
    leakage (a fact must never see a version that started after it).

    Semantics: version matches iff ``effective_from <= ts`` and
    (``effective_to`` is NULL or ``ts < effective_to``). Because
    scd2_history's intervals tile and never overlap, at most ONE version
    matches per fact — the join cannot fan out.

    Scale shape: an equi-join on the dimension key with the interval
    bounds as residual join predicates — Spark plans a hash/sort-merge
    join partitioned by key (the range conditions filter within each
    key group, they don't force a cartesian or a broadcast-nested-loop).
    Facts that predate the first version (or miss the key) keep NULL
    attributes under how="left".
    """
    d = dim.select(
        *[F.col(k).alias(f"_d_{k}") for k in key_cols],
        *[F.col(c) for c in dim.columns if c not in key_cols],
    )
    cond = [F.col(k) == F.col(f"_d_{k}") for k in key_cols]
    cond.append(F.col("effective_from") <= F.col(ts_col))
    cond.append(
        F.col("effective_to").isNull() | (F.col(ts_col) < F.col("effective_to"))
    )
    joined = facts.join(d, cond, how)
    return joined.select(
        *facts.columns,
        *[c for c in dim.columns if c not in key_cols + [ts_col]],
    )


def interval_conflicts(
    df: DataFrame,
    key_cols: list[str],
    from_col: str = "effective_from",
    to_col: str = "effective_to",
) -> DataFrame:
    """Per-row overlap counts over validity intervals → every input
    column plus ``n_overlaps`` (how many OTHER same-key intervals this
    row overlaps) and ``is_conflict``. The SCD2 invariant gate:
    scd2_history guarantees tiling intervals, so any conflict
    in a dimension someone hand-edited (or merged from two sources) is
    corruption this detects BEFORE point-in-time joins silently fan out.

    Overlap is the symmetric open-interval test
    ``a.from < b.to AND b.from < a.to`` (NULL to = still open = +inf),
    counted ORDER-FREE via the classic two-sweep identity

        n_overlaps(i) = |{j : from_j < to_i}| - |{j : to_j <= from_i}| - 1

    (valid when from < to and from is never NULL: every to_j <= from_i
    interval also satisfies from_j < to_i, so the difference counts
    exactly the overlappers, and the -1 removes the row itself). Both
    counts depend only on per-key value MULTISETS — never on the sort
    order among ties — so the result is deterministic at any
    parallelism with no tie-break column required, unlike a
    running-max-of-previous-ends formulation whose "previous" set is
    ambiguous under equal sort keys.

    Each count is one cumulative window over the union of interval rows
    with their event points (a 2N-row relation), partitioned by key:
    probes sort before same-valued from-points / after same-valued
    to-points so the < / <= strictness is encoded in the tie rank, and
    NULL (open) ends sort last — a NULL-to probe counts every from, a
    NULL to-point is never <= any from. Two key-partitioned window
    shuffles total; no self-join, no per-key quadratic stage (the
    brute-force pairwise count IS the r6 oracle twin's derivation)."""
    from pyspark.sql import Window

    cols = df.columns
    probe = df.withColumn("_flag", F.lit(0))
    # pass 1: count from-points strictly below this row's `to`
    # (probe value = to, may be NULL=+inf → sorts last, counts all)
    pts_f = df.select(
        *[F.col(c).alias(f"_k_{c}") for c in key_cols],
        F.col(from_col).alias("_v"), F.lit(1).alias("_flag"),
    )
    pr_f = probe.select(
        *cols,
        *[F.col(c).alias(f"_k_{c}") for c in key_cols],
        F.col(to_col).alias("_v"), F.col("_flag"),
    )
    w1 = (
        Window.partitionBy(*[f"_k_{c}" for c in key_cols])
        .orderBy(F.col("_v").asc_nulls_last(), F.col("_flag").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c1 = (
        pr_f.unionByName(
            pts_f.select(
                *[F.lit(None).cast(df.schema[c].dataType).alias(c) for c in cols],
                *[F.col(f"_k_{c}") for c in key_cols], "_v", "_flag",
            )
        )
        .withColumn("_n_from_lt", F.coalesce(F.sum("_flag").over(w1), F.lit(0)))
        .where(F.col("_flag") == 0)
        .drop("_v", "_flag")
    )
    # pass 2: count to-points at or below this row's `from`
    # (to-points sort BEFORE same-valued probes → <=; NULL to never counts)
    w2 = (
        Window.partitionBy(*[f"_k_{c}" for c in key_cols])
        .orderBy(F.col("_v").asc_nulls_last(), F.col("_flag").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pts_t = df.select(
        *[F.col(c).alias(f"_k_{c}") for c in key_cols],
        F.col(to_col).alias("_v"), F.lit(0).alias("_flag"),
    ).where(F.col("_v").isNotNull())
    pr_t = c1.select(
        *cols, "_n_from_lt",
        *[F.col(f"_k_{c}") for c in key_cols],
        F.col(from_col).alias("_v"), F.lit(1).alias("_flag"),
    )
    out = (
        pr_t.unionByName(
            pts_t.select(
                *[F.lit(None).cast(df.schema[c].dataType).alias(c) for c in cols],
                F.lit(None).cast("long").alias("_n_from_lt"),
                *[F.col(f"_k_{c}") for c in key_cols], "_v", "_flag",
            )
        )
        .withColumn(
            "_n_to_le",
            F.coalesce(
                F.sum(F.lit(1) - F.col("_flag")).over(w2), F.lit(0)
            ),
        )
        .where(F.col("_flag") == 1)
    )
    return out.select(
        *cols,
        (F.col("_n_from_lt") - F.col("_n_to_le") - F.lit(1))
        .cast("long").alias("n_overlaps"),
    ).withColumn("is_conflict", F.col("n_overlaps") > 0)


def coalesce_intervals(
    df: DataFrame,
    key_cols: list[str],
    from_col: str = "effective_from",
    to_col: str = "effective_to",
) -> DataFrame:
    """Temporal coalescing (the SQL:2011 PACK / Snodgrass COALESCE
    primitive): merge each key's overlapping-or-adjacent validity
    intervals into maximal disjoint islands → ``(key..., valid_from,
    valid_to, n_merged)``. The normalizer that makes temporal-KG facts
    canonical: after coalescing, two fact tables can be compared
    interval-by-interval, and ``interval_conflicts`` is guaranteed
    clean. Requires ``from < to`` per row (same contract as
    interval_conflicts); ``to`` NULL = still open = +inf, so an open
    interval absorbs everything at or after its start.

    Island boundaries via gaps-and-islands window algebra: a row opens
    a new island iff no earlier-starting same-key interval reaches it
    — ``from > max(to) over strictly-earlier rows`` and no earlier row
    is open-ended. Determinism under equal ``from`` ties needs no
    tie-break column: a non-head tie row always has flag 0 (its start
    equals the head's start, which is strictly below the head's end,
    hence <= the running max), and the head's flag depends only on the
    multiset of strictly-smaller starts — so the island PARTITION (and
    therefore every per-island aggregate) is a pure function of the
    interval multiset at any parallelism. Two same-spec windows over
    one key-partitioned sort, then one groupBy: ~one shuffle after AQE
    reuses the sort; no self-join, no per-key quadratic stage. The r6
    oracle derives the same islands by a genuinely different route — a
    sweep line over +1/-1 endpoint deltas whose coverage returning to
    zero closes an island."""
    from pyspark.sql import Window

    w_prev = (
        Window.partitionBy(*key_cols)
        .orderBy(F.col(from_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    m = (
        df.select(*key_cols, from_col, to_col)
        .withColumn("_prev_max", F.max(to_col).over(w_prev))
        .withColumn(
            "_prev_open",
            F.coalesce(
                F.sum(F.col(to_col).isNull().cast("long")).over(w_prev),
                F.lit(0),
            ),
        )
    )
    flag = (
        (F.col("_prev_open") == 0)
        & (F.col("_prev_max").isNull() | (F.col(from_col) > F.col("_prev_max")))
    ).cast("long")
    w_cum = (
        Window.partitionBy(*key_cols)
        .orderBy(F.col(from_col).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    g = m.withColumn("_island", F.sum(flag).over(w_cum))
    to_type = df.schema[to_col].dataType
    return (
        g.groupBy(*key_cols, "_island")
        .agg(
            F.min(from_col).alias("valid_from"),
            F.when(
                F.sum(F.col(to_col).isNull().cast("long")) > 0,
                F.lit(None).cast(to_type),
            )
            .otherwise(F.max(to_col))
            .alias("valid_to"),
            F.count(F.lit(1)).alias("n_merged"),
        )
        .drop("_island")
    )


def coverage_gaps(
    df: DataFrame,
    key_cols: list[str],
    from_col: str = "effective_from",
    to_col: str = "effective_to",
) -> DataFrame:
    """Uncovered gaps inside each key's observed span → ``(key...,
    gap_from, gap_to)``: the dual of ``coalesce_intervals`` (the
    temporal-completeness audit — a dimension whose history has gaps
    silently returns no version for point-in-time lookups landing in
    one). A gap is the open stretch between two consecutive coalesced
    islands; keys whose intervals tile produce no rows. Cost: the
    coalesce plan plus one more same-partitioning lead() window —
    still a single key shuffle end to end."""
    from pyspark.sql import Window

    isl = coalesce_intervals(df, key_cols, from_col, to_col)
    w = Window.partitionBy(*key_cols).orderBy(F.col("valid_from").asc())
    return (
        isl.withColumn("_next_from", F.lead("valid_from").over(w))
        .where(F.col("_next_from").isNotNull())
        .select(
            *key_cols,
            F.col("valid_to").alias("gap_from"),
            F.col("_next_from").alias("gap_to"),
        )
    )


def time_weighted_avg(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    from_col: str = "effective_from",
    to_col: str = "effective_to",
) -> DataFrame:
    """Time-weighted average of an interval-held value per key →
    (key..., wsum, dur_total, twa_micro): the temporal aggregate that
    makes validity-interval facts comparable — a price held for a year
    must outweigh one held for a minute, which a plain AVG over
    version rows gets exactly backwards. The TimescaleDB
    time_weight('locf') shape, as one Spark aggregation.

    Requires finite ``from < to`` (coalesce open intervals to a
    horizon upstream) and an integer value (cents / micro-quantized):
    then wsum = Σ value·duration and dur_total = Σ duration are exact
    longs-in-decimal, and twa_micro = floor(wsum·1e6 / dur_total) via
    the DECIMAL(38,0) manual floor (pmod-then-divide — `div` overflows
    through a long, and true floor keeps NEGATIVE values exact). The
    exact components travel alongside, so downstream can re-weight or
    merge partial results without precision loss — the same
    mergeable-state discipline as the agg-state family.

    Shape: one map-side-combinable aggregation keyed by the key
    columns. Nothing else — no window, no join; overlapping intervals
    are each weighted by their own duration (coalesce first if
    double-counting overlap is wrong for the source)."""
    dec = "decimal(38,0)"
    dur = (F.col(to_col) - F.col(from_col)).cast(dec)
    agg = df.groupBy(*key_cols).agg(
        F.sum(F.col(value_col).cast(dec) * dur).alias("_wsum"),
        F.sum(dur).alias("_dur"),
    )
    num = F.col("_wsum") * F.lit(1_000_000).cast(dec)
    return agg.select(
        *key_cols,
        F.col("_wsum").cast("long").alias("wsum"),
        F.col("_dur").cast("long").alias("dur_total"),
        F.when(
            F.col("_dur") != F.lit(0).cast(dec),
            ((num - F.pmod(num, F.col("_dur"))) / F.col("_dur"))
            .cast("long"),
        ).alias("twa_micro"),
    )


def decayed_sum(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    ts_col: str,
    anchor_epoch: int,
    bucket_sec: int = 86_400,
    max_delta: int = 40,
) -> DataFrame:
    """Exponentially time-decayed sum per key → (key…, n, decayed_micro):
    the recency-weighted engagement / freshness score (Σ v·2^−Δ with Δ =
    whole buckets of age at a fixed anchor) that feeds ranking and
    sampling weights — yesterday's signal counts half of today's, and a
    fixed per-bucket half-life means the score is refreshable by pure
    re-scaling instead of recomputation.

    Bit-stable by construction, no libm: the decay factor is division
    by a LONG power of two (`1 << Δ`, exact in IEEE — never pow()), the
    age Δ is integer floor division of epoch seconds clamped to
    [0, max_delta] (beyond 2^-40 a term is < 1 micro anyway), each
    term is ONE correctly-rounded division then ONE round to integer
    micros, and only those longs are summed — order-free on any
    partitioning, replayable by a SQL oracle with the same three steps.
    The anchor is an explicit argument (never now()): scores are
    reproducible and shards scored at different wall times agree.

    Shape: one projection + one key-keyed map-side-combinable agg."""
    age = F.col(ts_col).cast("long") * -1 + F.lit(int(anchor_epoch))
    delta = F.least(
        F.lit(int(max_delta)).cast("long"),
        F.greatest(
            F.lit(0).cast("long"),
            ((age - F.pmod(age, F.lit(int(bucket_sec))))
             / F.lit(int(bucket_sec))).cast("long"),
        ),
    )
    # SQL shiftleft (the PySpark wrapper only takes a literal bit count)
    term = F.round(
        F.col(value_col).cast("double")
        * F.lit(1_000_000.0)
        / F.expr("shiftleft(1L, cast(_delta as int))")
    ).cast("long")
    return (
        df.withColumn("_delta", delta)
        .select(*key_cols, term.alias("_t"))
        .groupBy(*key_cols)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_t").alias("decayed_micro"),
        )
    )


def apply_cdc_log(
    snapshot: DataFrame,
    ops: DataFrame,
    key_cols: list[str],
    value_cols: list[str],
    op_col: str = "op",
    seq_cols: list[str] | None = None,
) -> DataFrame:
    """Apply a change-data-capture operation log to a snapshot — the
    Hudi/Delta-style upsert-delete materializer (scd2_history keeps
    HISTORY; this produces the current-state table a CDC mirror
    maintains). `ops` carries key_cols, value_cols, op_col ∈
    {'I','U','D'} (insert and update are both upserts — the usual CDC
    relaxation, so a replayed log converges), and seq_cols — the total
    order within a key (ts, LSN, …). Semantics: for every key, the
    LAST op in seq order wins; D deletes the key, I/U set value_cols.
    Keys untouched by the log pass through verbatim.

    Scale shape: one key-partitioned window over the OPS (ops-sized,
    not snapshot-sized — the log is the small side of a CDC cycle),
    then one key-keyed anti-join (drop snapshot rows the log touched)
    + union of the log's surviving upserts. No full-table rewrite
    logic here — at the storage layer this frame feeds the
    dynamic-partition overwrite the materializer already owns.

    Seq ties are the caller's contract (seq_cols must totally order a
    key's ops); a deterministic tie-break on op_col is appended so
    equal-seq replays are at least stable, but relying on it means the
    upstream CDC extractor is broken. A NULL seq sorts lowest: such an op
    never beats an op of the same key with a non-NULL seq, and among ops
    whose seq is all NULL the op_col tie-break decides (U beats D)."""
    seq = list(seq_cols or ["ts"])
    # last-op election via max_by over (seq…, op) instead of a
    # row_number window (r6): identical winner under the caller's
    # total-order contract, map-side combinable — each map task ships
    # one candidate op per key instead of the whole log slice being
    # sorted per key.
    last = (
        ops.groupBy(*key_cols)
        .agg(
            F.max_by(
                F.struct(*[F.col(c) for c in ops.columns]),
                F.struct(*[F.col(c) for c in seq], F.col(op_col)),
            ).alias("_r")
        )
        .select("_r.*")
    )
    upserts = last.where(F.col(op_col) != "D").select(
        *key_cols, *value_cols
    )
    untouched = snapshot.select(*key_cols, *value_cols).join(
        last.select(*key_cols), key_cols, "left_anti"
    )
    return untouched.unionByName(upserts)
