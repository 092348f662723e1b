"""Event-stream analytics: funnels and the time-series family.

Grew from ordered-funnel analysis into the engine's event-analytics
home: funnels (plain + conversion-window), retention (cohort matrix +
DK rolling), Markov transitions, session/tool path mining, burst
detection, exact cumulative-distinct growth accounting, dense
resampling, OHLC rollups, in-stream response latency, lagged
cross-correlation, and weekly seasonality. Shared disciplines: the
tz-independent true-floor epoch (_epoch_floor), quantize-then-window
(aggregate to buckets FIRST, window over the buckets-sized relation),
and floored-millionths integer ratios.

The founding primitive (ClickHouse ``windowFunnel``, Snowplow
funnels): given an ordered list of step event-types, compute per user
the deepest step reached where step *i+1* must occur strictly after
the matched step *i* (greedy earliest-match semantics — the greedy
chain is exactly the ``min(ts) > previous`` fixpoint, which is what
the DuckDB oracle re-derives with one chained CTE per step).

Scale shape (100 TB): ONE shuffle, keyed by user. The per-user state
the aggregate carries is only the *step-typed* events (non-step events
are dropped inside ``collect_list`` before they ever reach the reducer
— the ``when(...isin(steps))`` evaluates map-side), so a hot user costs
O(step events), not O(all events). The fold over the sorted event list
is a Catalyst higher-order ``aggregate`` — whole-stage codegen, zero
Python. For a pathological user whose step-event count alone is
unbounded, cap with an upstream ``filter`` on a time window — the
operator composes with any predicate because it is a plain groupBy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from ..session import local_frame


def funnel_depths(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    order_col: str = "event_id",
) -> DataFrame:
    """Per-user funnel depth and per-step match timestamps.

    Returns one row per distinct user in ``events`` (users with no step
    events report depth 0) with columns: ``user_col``, ``depth``
    (BIGINT, 0..len(steps)) and ``ts_1..ts_K`` (the matched event's
    timestamp for each completed step, NULL beyond ``depth``).

    Ties are deterministic: events are folded in ``(ts, order_col)``
    order and a step only advances on ``ts`` strictly greater than the
    previous matched step's ``ts`` — so two candidate events at the
    same timestamp can never both advance the chain, and the fold's
    result is independent of their relative order.
    """
    if not steps:
        raise ValueError("steps must be a non-empty ordered list of event types")
    k = len(steps)
    steps_arr = F.array(*[F.lit(s) for s in steps])

    # Map-side: keep only step-typed events; collect_list drops the NULLs
    # the when() leaves for everything else, so the shuffled state per
    # user is bounded by the user's step-event count.
    ev = F.when(
        F.col(type_col).isin(list(steps)),
        F.struct(
            # NTZ-normalized so the fold state's empty-array literal type
            # matches regardless of the source column's tz flavor (the
            # driver parquet is NTZ already — this cast is a no-op there)
            F.col(ts_col).cast("timestamp_ntz").alias("ts"),
            F.col(order_col).alias("oid"),
            F.col(type_col).alias("et"),
        ),
    )
    per_user = events.groupBy(F.col(user_col)).agg(
        F.sort_array(F.collect_list(ev)).alias("evs")
    )

    # Greedy earliest-match fold: state = (depth so far, ts of the last
    # matched step, matched ts's). Pure Catalyst; the strict
    # ts > last_ts comparison IS the min-chaining semantics the oracle
    # replays step by step. Conjunction operands are not short-circuited
    # under ANSI mode, so array access uses try_element_at (NULL out of
    # bounds → condition NULL → otherwise branch) and the previous-step
    # timestamp rides in the state instead of being indexed out of hits
    # (ts > NULL is NULL, absorbed by the depth == 0 disjunct).
    state = F.struct(
        F.lit(0).alias("depth"),
        F.lit(None).cast("timestamp_ntz").alias("last_ts"),
        F.expr("cast(array() as array<timestamp_ntz>)").alias("hits"),
    )
    fold = F.aggregate(
        F.col("evs"),
        state,
        lambda s, x: F.when(
            (s.depth < F.lit(k))
            & (x.et == F.try_element_at(steps_arr, s.depth + F.lit(1)))
            & ((s.depth == F.lit(0)) | (x.ts > s.last_ts)),
            F.struct(
                (s.depth + F.lit(1)).alias("depth"),
                x.ts.alias("last_ts"),
                F.array_append(s.hits, x.ts).alias("hits"),
            ),
        ).otherwise(s),
    )
    out = per_user.select(F.col(user_col), fold.alias("f"))
    return out.select(
        user_col,
        F.col("f.depth").cast("long").alias("depth"),
        *[
            F.try_element_at(F.col("f.hits"), F.lit(i + 1)).alias(f"ts_{i + 1}")
            for i in range(k)
        ],
    )


def retention_cohorts(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    grain: str = "month",
) -> DataFrame:
    """Classic retention-cohort matrix: users are assigned to the cohort
    of their FIRST activity period, and each (cohort, period) cell
    counts how many of that cohort were active in that period — the
    standard growth-analytics rollup (every product analytics stack
    ships it; none of the engine's other operators express it:
    funnel is ordered-step, sessionize is gap-based).

    Scale shape: ONE shuffle on user_id computes both the cohort
    (min over the user's periods) and the user's distinct active
    periods — groupBy(user) with min + collect_set(period), then
    explode; the (cohort, period) count that follows is map-side
    combinable. No join back to the event stream (the naive
    min-ts-join-events form shuffles the full event table twice and
    counts DISTINCT users per cell — strictly worse). Periods are
    date_trunc'd DATEs: integer-exact, no float anywhere."""
    per_user = (
        events
        .select(
            F.col(user_col).alias("u"),
            F.date_trunc(grain, F.col(ts_col)).cast("date").alias("period"),
        )
        .groupBy("u")
        .agg(
            F.min("period").alias("cohort"),
            F.collect_set("period").alias("periods"),
        )
    )
    return (
        per_user
        .select("cohort", F.explode("periods").alias("period"))
        .groupBy("cohort", "period")
        .agg(F.count("*").alias("n_users"))
    )


def event_transitions(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    order_col: str | None = "event_id",
) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences → (from_type, to_type, n, p_micro): how often each event
    type is immediately followed by each other type, with the row-
    normalized transition probability in exact millionths. The
    behavioral complement of funnel_depths: a funnel checks ONE
    hypothesized path, the transition matrix surfaces the paths users
    actually take (and between KG-extraction runs, a shifted transition
    row is the same drift alarm degree_profile raises for graph
    structure).

    Shape: one user-keyed window (lead over (ts, order_col) — the
    stable total order the funnel family already pins; ties without an
    order column would make `next` ambiguous) producing (type,
    next_type) pairs, then one map-side-combinable count shuffle keyed
    by the pair — nothing data-squared, no driver actions. Terminal
    events per user (lead = NULL) are dropped: rows condition on "a
    next event exists", so each from-row sums to ~1e6 (up to floor
    residue). p_micro = (n · 1e6) div row_total — INTEGER division of
    exact longs, deterministic at any parallelism and replayed
    verbatim by the SQL oracle; the exact n survives alongside so any
    other normalization can be re-derived."""
    from pyspark.sql import Window

    order = [F.col(ts_col)] + ([F.col(order_col)] if order_col else [])
    w = Window.partitionBy(user_col).orderBy(*order)
    pairs = (
        events.select(
            F.col(user_col), F.col(type_col).alias("from_type"),
            *([F.col(ts_col)] + ([F.col(order_col)] if order_col else [])),
        )
        .withColumn("to_type", F.lead("from_type").over(w))
        .where(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n"))
    )
    wr = Window.partitionBy("from_type")
    return (
        pairs.withColumn("row_total", F.sum("n").over(wr))
        .select(
            "from_type", "to_type", "n",
            F.expr("CAST((n * 1000000) div row_total AS BIGINT)")
            .alias("p_micro"),
        )
    )


def _epoch_floor(ts_col: str) -> F.Column:
    """Seconds since epoch with TRUE floor semantics, session-timezone
    independent: the NTZ cast is a no-op on the driver parquet's
    TIMESTAMP_NTZ columns (unix_timestamp on NTZ would re-interpret the
    wall clock in the session tz), and the microsecond diff +
    integer pmod floor-divide avoids both double round-trips and
    timestampdiff(SECOND)'s truncation-toward-zero on pre-epoch
    fractional timestamps."""
    us = (
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', "
        f"cast({ts_col} as timestamp_ntz))"
    )
    return F.expr(f"({us} - pmod({us}, 1000000)) div 1000000").cast("long")


def rate_bursts(
    events: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    bucket_seconds: int = 3600,
    trailing: int = 3,
    ratio_num: int = 2,
    ratio_den: int = 1,
) -> DataFrame:
    """Burst detection per key: bucket events into fixed windows and
    flag buckets whose count exceeds (ratio_num/ratio_den)× the mean
    of the `trailing` immediately-PRECEDING buckets — the
    rate-anomaly gate of an ingest pipeline ("this tool's call volume
    tripled in the last hour", "this entity's mention rate spiked
    after a crawl refresh"). Returns one row per observed (key,
    bucket): key_cols, bucket (epoch-second bucket start), cnt,
    prior_sum, ratio_micro, is_burst.

    Exactness: the comparison is the integer cross-multiplication
    cnt·trailing·ratio_den > prior_sum·ratio_num — no float mean, no
    division — and ratio_micro = cnt·trailing·1e6 // prior_sum (true
    floor, NULL when prior_sum = 0). A bucket only qualifies as a
    burst when its `trailing` predecessors are CONTIGUOUS (checked
    with lag(bucket, trailing) = bucket − trailing): a gap in history
    means the trailing mean would silently average over a shorter,
    unrepresentative window, so such buckets report is_burst = false
    and a NULL ratio rather than a misleading one.

    Scale shape: one map-side-combinable (key, bucket) count — the
    data's only shuffle — then one bounded-frame window per key
    ordered by bucket (rows between -trailing and -1; state is
    trailing-sized). Output is buckets-sized, never events-sized. Key
    skew is bounded by the bucketing itself: a hot key contributes
    one row per bucket, not per event."""
    epoch = _epoch_floor(ts_col)
    # true-floor bucket start (pmod, not float division/truncation):
    # correct for pre-epoch timestamps too — the repo's epoch-floor rule
    bucket = (epoch - F.pmod(epoch, F.lit(bucket_seconds))).alias("bucket")
    per = events.groupBy(*key_cols, bucket).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy(*key_cols).orderBy("bucket")
    wprev = w.rowsBetween(-trailing, -1)
    dec = "decimal(38,0)"
    prior_sum = F.sum("cnt").over(wprev)
    contiguous = (
        F.lag("bucket", trailing).over(w)
        == F.col("bucket") - F.lit(trailing * bucket_seconds)
    )
    num = (
        F.col("cnt").cast(dec)
        * F.lit(trailing).cast(dec)
        * F.lit(1_000_000).cast(dec)
    )
    den = F.col("prior_sum").cast(dec)
    return (
        per.select(
            *key_cols,
            "bucket",
            "cnt",
            F.coalesce(prior_sum, F.lit(0)).alias("prior_sum"),
            F.coalesce(contiguous, F.lit(False)).alias("_contig"),
        )
        .select(
            *key_cols,
            "bucket",
            "cnt",
            "prior_sum",
            F.when(
                F.col("_contig") & (F.col("prior_sum") > 0),
                ((num - F.pmod(num, den)) / den).cast("long"),
            ).alias("ratio_micro"),
            (
                F.col("_contig")
                & (
                    F.col("cnt").cast(dec)
                    * F.lit(trailing * ratio_den).cast(dec)
                    > F.col("prior_sum").cast(dec)
                    * F.lit(ratio_num).cast(dec)
                )
            ).alias("is_burst"),
        )
    )


def cumulative_distinct(
    df: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    bucket_seconds: int = 86400,
) -> DataFrame:
    """Growth accounting: per time bucket, the EXACT number of distinct
    keys active that bucket (dau), first seen that bucket (new_keys),
    and seen in any bucket up to and including it (cum_keys) — the
    "daily/weekly actives + cumulative reach" report, computed without
    ever carrying a distinct-set through time. The trick is standard
    but scale-critical: cumulative distinct = running SUM of
    first-appearance counts, so the only per-key state is min(bucket)
    — one row per key — and the running sum operates on the
    buckets-sized relation, never the data.

    Returns one row per bucket with activity: (bucket, dau, new_keys,
    cum_keys). Buckets with zero events don't appear (they carry no
    dau row; cum_keys is constant across them by definition).

    Scale shape: two map-side-combinable aggregations of the data —
    (key → min bucket) and (bucket, key)-distinct → dau — then
    buckets-domain joins and ONE unpartitioned running-sum window over
    the bounded bucket domain (days/hours, not rows; the repo's
    quantize-then-window discipline). Compare the HLL sketch family
    for the approximate/mergeable variant; this is the exact one."""
    epoch = _epoch_floor(ts_col)
    # true-floor bucket start (pmod, not float division/truncation):
    # correct for pre-epoch timestamps too — the repo's epoch-floor rule
    bucket = (epoch - F.pmod(epoch, F.lit(bucket_seconds))).alias("bucket")
    dau = (
        df.select(F.col(key_col).alias("_k"), bucket)
        .groupBy("bucket")
        .agg(F.count_distinct("_k").alias("dau"))
    )
    first = (
        df.select(F.col(key_col).alias("_k"), bucket)
        .groupBy("_k")
        .agg(F.min("bucket").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("new_keys"))
    )
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        dau.join(first, "bucket", "left")
        .select(
            "bucket",
            "dau",
            F.coalesce("new_keys", F.lit(0)).alias("new_keys"),
        )
        .withColumn("cum_keys", F.sum("new_keys").over(w))
    )


def resample_counts(
    df: DataFrame,
    ts_col: str = "ts",
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Dense time resampling: (bucket, cnt) for EVERY bucket between
    the data's min and max — empty buckets appear with cnt = 0, unlike
    the sparse groupBy the windowed operators (rate_bursts,
    cumulative_distinct) deliberately keep. Zero-filling is what makes
    downstream frame windows (moving averages, gap detection,
    forecasting features) arithmetically honest: a missing bucket and
    a zero bucket are different facts.

    Scale shape: one map-side-combinable bucket count, one single-row
    min/max aggregate, and a spine generated EXECUTOR-side with
    sequence() + explode off that one broadcast row — the driver never
    materializes the range, so a decade of 1-second buckets is an
    array-expansion plan, not a collect. The spine left-joins the
    sparse counts on the bucket key. Spine length is (max−min)/bucket
    — guard upstream if the data's time span could make that
    pathological (a single partition explodes the array; repartition
    the spine by bucket range for very long spans)."""
    epoch = _epoch_floor(ts_col)
    bucket = (epoch - F.pmod(epoch, F.lit(bucket_seconds))).alias("bucket")
    per = df.select(bucket).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    bounds = per.agg(
        F.min("bucket").alias("_lo"), F.max("bucket").alias("_hi")
    )
    spine = bounds.select(
        F.explode(
            F.sequence("_lo", "_hi", F.lit(bucket_seconds))
        ).alias("bucket")
    )
    return spine.join(per, "bucket", "left").select(
        "bucket", F.coalesce("cnt", F.lit(0)).alias("cnt")
    )


def session_paths(
    events: DataFrame,
    gap_seconds: int = 1800,
    k_prefix: int = 3,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    order_col: str = "event_id",
) -> DataFrame:
    """Common-journey mining: sessionize (gap > gap_seconds starts a
    new session — the engine's standard lag + cumulative-sum split),
    take each session's FIRST k_prefix event types in (ts, order_col)
    order, and count sessions per path string — "what do sessions
    actually start with", the exploratory complement of funnel_depths'
    single hypothesized path and event_transitions' one-step matrix.
    Returns (path, n_sessions, path_len) with path as
    'a>b>c'.

    Scale shape: one user-keyed shuffle for the session windows, then
    one (user, session)-keyed combinable collect of ONLY the first k
    positions — the rank filter runs before the collect, so a
    pathological 10⁶-event session contributes k rows, not 10⁶ — and
    one path-keyed combinable count. Ties at identical timestamps are
    pinned by order_col throughout."""
    epoch = _epoch_floor(ts_col)
    w = Window.partitionBy(user_col).orderBy(ts_col, order_col)
    gap = epoch - F.lag(epoch).over(w)
    new_sess = F.when(gap.isNull() | (gap > gap_seconds), 1).otherwise(0)
    sess = events.withColumn(
        "_sess",
        F.sum(new_sess).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).cast("long"),
    )
    ws = Window.partitionBy(user_col, "_sess").orderBy(ts_col, order_col)
    firsts = (
        sess.withColumn("_rk", F.row_number().over(ws))
        .where(F.col("_rk") <= k_prefix)
        .groupBy(user_col, "_sess")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("_rk").alias("rk"),
                                F.col(type_col).alias("et"),
                            )
                        )
                    ),
                    lambda s: s.et,
                ),
                ">",
            ).alias("path"),
            F.count(F.lit(1)).alias("path_len"),
        )
    )
    return firsts.groupBy("path").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.max("path_len").cast("long").alias("path_len"),
    )


def ohlc_buckets(
    events: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    order_col: str = "event_id",
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Time-series candle rollup: per (key, bucket) the Open (first
    value), High, Low, Close (last value) plus count — the metrics
    downsampling primitive (dashboards, anomaly baselines, storage
    rollups a la RRD/Timescale continuous aggregates). First/last are
    pinned by the (ts, order_col) total order, so ties at identical
    timestamps are deterministic.

    Scale shape (r6): ONE map-side-combinable aggregation — open/close
    are min_by/max_by over the (ts, order) composite (identical to the
    old first/last row_number windows: order_col makes the composite a
    total order), so the former window exchange + two full per-bucket
    sorts are gone and each map task ships one candidate row per
    bucket. Output is buckets-sized."""
    epoch = _epoch_floor(ts_col)
    bucket = (epoch - F.pmod(epoch, F.lit(bucket_seconds))).alias("bucket")
    base = events.select(
        *key_cols, bucket, F.col(ts_col).alias("_ts"),
        F.col(order_col).alias("_oid"), F.col(value_col).alias("_v"),
    )
    order = F.struct(F.col("_ts"), F.col("_oid"))
    return base.groupBy(*key_cols, "bucket").agg(
        F.min_by("_v", order).alias("open"),
        F.max("_v").alias("high"),
        F.min("_v").alias("low"),
        F.max_by("_v", order).alias("close"),
        F.count(F.lit(1)).alias("n"),
    )


def response_latency(
    events: DataFrame,
    from_type: str,
    to_type: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    order_col: str = "event_id",
) -> DataFrame:
    """Request→response pairing inside one event stream: for every
    `to_type` event, the seconds since the SAME user's most recent
    PRIOR (or simultaneous, ties pinned by order_col) `from_type`
    event — the behavioral latency metric ("signup → first purchase",
    "prompt → tool call") that the dimension-table as-of joins don't
    cover because both sides live in the stream. Events with no prior
    trigger report NULL latency (visible, not dropped).

    Scale shape: one user-keyed window pass — last_value of the
    trigger epoch over an unbounded-preceding frame restricted to
    trigger rows via a conditional — then a filter to response rows;
    no self-join, no second shuffle. Hot users cost their event count
    in ONE partition's sort, the same bound as sessionization."""
    epoch = _epoch_floor(ts_col)
    w = (
        Window.partitionBy(user_col)
        .orderBy(ts_col, order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    trig_ep = F.last(
        F.when(F.col(type_col) == from_type, epoch), ignorenulls=True
    ).over(w)
    out = events.select(
        user_col,
        F.col(order_col).alias("event_id"),
        F.col(type_col).alias("_et"),
        epoch.alias("_ep"),
        trig_ep.alias("_trig"),
    )
    return (
        out.where(F.col("_et") == to_type)
        .select(
            user_col, "event_id",
            (F.col("_ep") - F.col("_trig")).alias("latency_sec"),
        )
    )


def lagged_crosscorr(
    events: DataFrame,
    type_a: str,
    type_b: str,
    ts_col: str = "ts",
    type_col: str = "event_type",
    bucket_seconds: int = 86400,
    max_lag: int = 3,
) -> DataFrame:
    """Lagged cross-correlation between two event-type count series —
    "does B's volume follow A's by k days?" (error spikes → retry
    storms, tool outages → fallback usage). For each lag in
    [−max_lag, max_lag], Pearson correlation of (count_A[t],
    count_B[t+lag]) over the DENSE bucket spine between the data's
    min and max (zero-filled — a missing day is a 0, not a dropped
    observation; resample_counts' honesty rule), emitted as one fixed
    double shape micro-quantized from EXACT integer moments
    (n, Σx, Σy, Σxy, Σx², Σy²). Returns (lag, n, corr_micro — NULL at
    zero variance). Positive lag means B lags A.

    Scale shape: one bucket count per series (combinable), a generated
    spine (sequence + explode off one broadcast min/max row), a
    lags-domain crossJoin of the SPINE (buckets×lags rows — days, not
    events), two bucket-keyed left joins, and one per-lag single-row
    moment aggregate."""
    epoch = _epoch_floor(ts_col)
    bucket = (epoch - F.pmod(epoch, F.lit(bucket_seconds))).alias("bucket")
    base = events.where(
        F.col(type_col).isin([type_a, type_b])
    ).select(F.col(type_col).alias("_et"), bucket)
    per = base.groupBy("_et", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    a = per.where(F.col("_et") == type_a).select(
        F.col("bucket").alias("_ba"), F.col("cnt").alias("_x")
    )
    b = per.where(F.col("_et") == type_b).select(
        F.col("bucket").alias("_bb"), F.col("cnt").alias("_y")
    )
    bounds = per.agg(
        F.min("bucket").alias("_lo"), F.max("bucket").alias("_hi")
    )
    spine = bounds.select(
        F.explode(
            F.sequence("_lo", "_hi", F.lit(bucket_seconds))
        ).alias("bucket")
    )
    lags = spine.sparkSession.range(
        -max_lag, max_lag + 1
    ).select(F.col("id").cast("long").alias("lag"))
    grid = (
        spine.crossJoin(F.broadcast(lags))
        .join(a, F.col("bucket") == F.col("_ba"), "left")
        .join(
            b,
            F.col("_bb")
            == F.col("bucket") + F.col("lag") * F.lit(bucket_seconds),
            "left",
        )
        .select(
            "lag",
            F.coalesce("_x", F.lit(0)).alias("x"),
            F.coalesce("_y", F.lit(0)).alias("y"),
        )
    )
    dec = "decimal(38,0)"
    m = grid.groupBy("lag").agg(
        F.count(F.lit(1)).cast(dec).alias("_n"),
        F.sum(F.col("x").cast(dec)).alias("_sx"),
        F.sum(F.col("y").cast(dec)).alias("_sy"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).alias("_sxy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).alias("_sxx"),
        F.sum((F.col("y") * F.col("y")).cast(dec)).alias("_syy"),
    )
    # one deterministic double shape from the exact moments (the
    # degree_profile/chi2 kernel): corr = (nΣxy−ΣxΣy)/√(varx·vary)
    num = (F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")).cast(
        "double"
    )
    vx = (F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")).cast(
        "double"
    )
    vy = (F.col("_n") * F.col("_syy") - F.col("_sy") * F.col("_sy")).cast(
        "double"
    )
    return m.select(
        "lag",
        F.col("_n").cast("long").alias("n"),
        F.when(
            (vx > 0) & (vy > 0),
            F.round(num / F.sqrt(vx * vy) * F.lit(1_000_000.0))
            .cast("long"),
        ).alias("corr_micro"),
    )


def funnel_depths_windowed(
    events: DataFrame,
    steps: list[str],
    max_gap_seconds: int,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    order_col: str = "event_id",
) -> DataFrame:
    """funnel_depths with a conversion window — ClickHouse
    windowFunnel's gap bound applied to this engine's greedy
    earliest-match chain: step i+1 must occur strictly after the
    matched step i AND within max_gap_seconds of it, otherwise the
    chain stops at depth i ("signed up, but didn't purchase within
    a day"). Greedy semantics kept deliberately (the chain matches
    each step at its earliest admissible event) so the oracle replay
    stays the same chained min-CTE with one extra bound; this is a
    LOWER bound on the optimal-restart windowFunnel depth, and the
    documented, deterministic contract here.

    Returns (user_col, depth). Same scale shape as funnel_depths —
    one user-keyed shuffle, step-typed events only, Catalyst fold with
    integer epoch state (no timestamp interval arithmetic in the
    loop)."""
    if not steps:
        raise ValueError("steps must be a non-empty ordered list of event types")
    k = len(steps)
    steps_arr = F.array(*[F.lit(s) for s in steps])
    epoch = _epoch_floor(ts_col)
    ev = F.when(
        F.col(type_col).isin(list(steps)),
        F.struct(
            epoch.alias("ep"),
            F.col(order_col).alias("oid"),
            F.col(type_col).alias("et"),
        ),
    )
    per_user = events.groupBy(F.col(user_col)).agg(
        F.sort_array(F.collect_list(ev)).alias("evs")
    )
    state = F.struct(
        F.lit(0).alias("depth"),
        F.lit(None).cast("long").alias("last_ep"),
    )
    gap = F.lit(max_gap_seconds)
    fold = F.aggregate(
        F.col("evs"),
        state,
        lambda s, x: F.when(
            (s.depth < F.lit(k))
            & (x.et == F.try_element_at(steps_arr, s.depth + F.lit(1)))
            & (
                (s.depth == F.lit(0))
                | ((x.ep > s.last_ep) & (x.ep - s.last_ep <= gap))
            ),
            F.struct(
                (s.depth + F.lit(1)).alias("depth"),
                x.ep.alias("last_ep"),
            ),
        ).otherwise(s),
    )
    return per_user.select(
        user_col, fold.getField("depth").cast("long").alias("depth")
    )


def seasonality_profile(
    events: DataFrame,
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly seasonality matrix: event counts per (day-of-week, hour)
    cell with each cell's lift against the uniform 1/168 baseline —
    the traffic-shape baseline an anomaly detector (rate_bursts)
    calibrates against, and the scheduling input for load-shaped
    backfills. dow is computed as (epoch div 86400 + 3) mod 7
    (1970-01-01 was a Thursday → 3 with Monday = 0) and hour as
    (epoch mod 86400) div 3600 — pure integer epoch arithmetic,
    timezone-free and engine-identical, never an engine's locale-bound
    date function.

    Returns one row per observed cell: (dow, hour, n, share_micro,
    lift_micro = n·168·1e6 // total — 1e6 means exactly uniform).
    One map-side-combinable cell count + a broadcast single-row total;
    output ≤ 168 rows."""
    base = events.select(_epoch_floor(ts_col).alias("_ep"))
    cells = base.select(
        F.pmod(F.expr("_ep div 86400") + F.lit(3), F.lit(7)).alias("dow"),
        F.expr("pmod(_ep, 86400) div 3600").alias("hour"),
    ).groupBy("dow", "hour").agg(F.count(F.lit(1)).alias("n"))
    tot = cells.agg(F.sum("n").alias("_t"))
    dec = "decimal(38,0)"
    share_num = F.col("n").cast(dec) * F.lit(1_000_000).cast(dec)
    lift_num = (
        F.col("n").cast(dec) * F.lit(168).cast(dec)
        * F.lit(1_000_000).cast(dec)
    )
    den = F.col("_t").cast(dec)
    return cells.crossJoin(F.broadcast(tot)).select(
        "dow", "hour", "n",
        ((share_num - F.pmod(share_num, den)) / den).cast("long")
        .alias("share_micro"),
        ((lift_num - F.pmod(lift_num, den)) / den).cast("long")
        .alias("lift_micro"),
    )


def rolling_retention(
    events: DataFrame,
    k_days: list[int],
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Classic DK retention: for every activity day d and each k in
    k_days, the share of that day's active users who were ALSO active
    exactly on day d+k — the D1/D7/D30 dashboard numbers (the
    bounded-offset companion of retention_cohorts' full matrix).
    Returns (day, k, n_active, n_retained, retention_micro).

    Scale shape: ONE distinct (user, day) presence shuffle of the
    data; everything after runs on the presence relation — a
    self-equi-join on (user, day + k) per k (k_days is a literal
    domain, unioned via a broadcast lags frame), then a combinable
    (day, k) count. A power user collapses to one presence row per
    day before any join."""
    epoch = _epoch_floor(ts_col)
    day = (epoch - F.pmod(epoch, F.lit(86400))).alias("day")
    pres = events.select(
        F.col(key_col).alias("_u"), day
    ).dropDuplicates()
    ks = local_frame(events.sparkSession, [(int(k),) for k in k_days], "k long")
    future = pres.select(
        F.col("_u").alias("_u2"), F.col("day").alias("_d2")
    )
    j = (
        pres.crossJoin(F.broadcast(ks))
        .join(
            future,
            (F.col("_u") == F.col("_u2"))
            & (F.col("_d2") == F.col("day") + F.col("k") * F.lit(86400)),
            "left",
        )
        .groupBy("day", "k")
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            F.sum(F.when(F.col("_u2").isNotNull(), 1).otherwise(0))
            .alias("n_retained"),
        )
    )
    dec = "decimal(38,0)"
    num = F.col("n_retained").cast(dec) * F.lit(1_000_000).cast(dec)
    den = F.col("n_active").cast(dec)
    return j.withColumn(
        "retention_micro",
        ((num - F.pmod(num, den)) / den).cast("long"),
    )
