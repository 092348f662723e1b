"""Mergeable grid-quantile sketch (operators/sketches.py): merge
exactness (the materialized-view property) and the one-bucket-width
error bound vs the discrete order statistic."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from biosd_feature_annotator_spark.operators import sketches as S

LO, HI, NB = 0.0, 1_000_000.0, 10_000
WIDTH = (HI - LO) / NB  # 100.0 in value units


def _orders(spark):
    return spark.read.parquet("/root/testdata/sf0.001/orders.parquet")


def test_merge_of_parts_equals_state_of_whole(spark):
    o = _orders(spark)
    whole = S.grid_quantile_state(o, ["o_orderstatus"], "o_totalprice", LO, HI, NB)
    parts = [
        S.grid_quantile_state(
            o.where(f"o_orderkey % 3 = {i}"),
            ["o_orderstatus"], "o_totalprice", LO, HI, NB)
        for i in range(3)
    ]
    merged = S.merge_quantile_states(*parts)
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, whole.collect()))


def test_quantile_within_one_bucket_of_order_statistic(spark):
    """The sketch's guarantee is vs the DISCRETE quantile (the
    ⌈q·n⌉-th smallest value, which provably falls in the selected
    bucket): 0 ≤ estimate − order_stat ≤ width. Interpolating
    percentile() can sit further away on sparse data; that gap is the
    interpolation's, not the sketch's."""
    o = _orders(spark)
    st = S.grid_quantile_state(o, ["o_orderstatus"], "o_totalprice", LO, HI, NB)
    got = {r.o_orderstatus: (r.p50, r.p95) for r in S.state_quantiles(
        st, ["o_orderstatus"], {"p50": (1, 2), "p95": (19, 20)},
        LO, HI, NB).collect()}
    rows = o.select("o_orderstatus", "o_totalprice").collect()
    by_key: dict[str, list[float]] = {}
    for r in rows:
        by_key.setdefault(r.o_orderstatus, []).append(r.o_totalprice)
    for k, vals in by_key.items():
        vals.sort()
        for (num, den), est in zip([(1, 2), (19, 20)], got[k]):
            order_stat = vals[math.ceil(num / den * len(vals)) - 1]
            assert 0.0 <= est - order_stat <= WIDTH, (k, num, den, est, order_stat)


def test_state_is_small_and_clamps_outliers(spark):
    o = _orders(spark)
    st = S.grid_quantile_state(o, ["o_orderstatus"], "o_totalprice", LO, HI, NB)
    n_keys = o.select("o_orderstatus").distinct().count()
    assert st.count() <= n_keys * NB
    # out-of-range values land in the end buckets, never outside the grid
    wild = o.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 100 == 0, F.lit(-5.0e7))
        .when(F.col("o_orderkey") % 100 == 1, F.lit(5.0e7))
        .otherwise(F.col("o_totalprice")),
    )
    stw = S.grid_quantile_state(wild, ["o_orderstatus"], "o_totalprice", LO, HI, NB)
    mn, mx = stw.agg(F.min("bucket"), F.max("bucket")).first()
    assert mn == 0 and mx == NB - 1
    assert stw.agg(F.sum("cnt")).first()[0] == o.count()


# ---------------------------------------------------------------- HLL
def test_hll_state_merge_equals_direct(spark):
    def estimates(state):
        return {(r.event_type,): r.n for r in state.select(
            "event_type", F.hll_sketch_estimate("sk").alias("n")).collect()}

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    direct = estimates(S.hll_state(ev, ["event_type"], "user_id"))
    halves = [S.hll_state(ev.where(f"event_id % 2 = {i}"),
                          ["event_type"], "user_id") for i in (0, 1)]
    merged = estimates(halves[0].unionByName(halves[1]).groupBy("event_type")
                       .agg(F.hll_union_agg("sk").alias("sk")))
    assert merged == direct  # register-max merge: order/split independent
    exact = {(r.event_type,): r.n for r in ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n")).collect()}
    for k, est in merged.items():
        assert abs(est - exact[k]) / exact[k] < 0.05, (k, est, exact[k])


def _tokens(spark):
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    return d.select(
        F.explode(F.split(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))),
                          " ")).alias("tok")
    ).where(F.length("tok") > 0)


def test_cms_merge_equals_direct_and_is_deterministic(spark):
    t = _tokens(spark)
    whole = S.cms_state(t, "tok", depth=4, width=256)
    parts = [
        S.cms_state(t.where(f"pmod(length(tok), 3) = {i}"), "tok",
                    depth=4, width=256)
        for i in range(3)
    ]
    merged = S.merge_cms_states(*parts)
    as_set = lambda df: {tuple(r) for r in df.collect()}  # noqa: E731
    assert as_set(merged) == as_set(whole)
    # pure function of the value multiset: partitioning cannot change it
    assert as_set(S.cms_state(t.repartition(13), "tok", depth=4, width=256)) \
        == as_set(whole)


def test_cms_never_undercounts_and_wide_grid_is_exact(spark):
    t = _tokens(spark)
    exact = t.groupBy("tok").agg(F.count("*").alias("true_n"))
    items = exact.select("tok")
    # narrow grid: collisions may OVER-count, never under
    narrow = S.cms_estimates(
        S.cms_state(t, "tok", depth=4, width=64), items, "tok",
        depth=4, width=64)
    joined = narrow.join(exact, "tok").collect()
    assert len(joined) == items.count()
    assert all(r.est >= r.true_n for r in joined)
    # wide grid vs the distinct-token count: no collisions -> exact
    n_distinct = items.count()
    wide_w = 1 << (n_distinct * 16 - 1).bit_length()  # >> n_distinct^2 cells
    wide = S.cms_estimates(
        S.cms_state(t, "tok", depth=4, width=wide_w), items, "tok",
        depth=4, width=wide_w)
    assert all(r.est == r.true_n for r in wide.join(exact, "tok").collect())


def test_cms_weighted_and_per_key(spark):
    rows = [("a", "x", 5), ("a", "x", 2), ("a", "y", 1), ("b", "x", 7)]
    df = spark.createDataFrame(rows, "grp string, v string, w long")
    st = S.cms_state(df, "v", depth=3, width=128, key_cols=["grp"],
                     weight_col="w")
    items = spark.createDataFrame(
        [("a", "x"), ("a", "y"), ("b", "x"), ("b", "y")], "grp string, v string")
    est = {(r.grp, r.v): r.est
           for r in S.cms_estimates(st, items, "v", depth=3, width=128,
                                    key_cols=["grp"]).collect()}
    assert est[("a", "x")] == 7 and est[("a", "y")] == 1
    assert est[("b", "x")] == 7
    # an item the sketch never saw estimates 0 (all cells empty or
    # collision-mass only)
    assert est[("b", "y")] >= 0


# ------------------------------------------------------ r5: cms_join_size


def test_cms_join_size_exact_when_collision_free(spark):
    from biosd_feature_annotator_spark.operators.sketches import (
        cms_join_size, cms_state,
    )

    a = spark.createDataFrame(
        [(k,) for k in ["x"] * 3 + ["y"] * 2 + ["z"]], "k string")
    b = spark.createDataFrame(
        [(k,) for k in ["x"] * 4 + ["y"] * 1 + ["w"] * 5], "k string")
    sa = cms_state(a, "k", depth=4, width=4096)
    sb = cms_state(b, "k", depth=4, width=4096)
    got = cms_join_size(sa, sb, depth=4, width=4096).collect()[0]
    # true join size = 3*4 + 2*1 = 14; 4 distinct keys in 4096 cells
    # collide with negligible probability under the fixed md5 kernel
    assert got.est == 14 and got.depth == 4 and got.width == 4096


def test_cms_join_size_never_underestimates(spark):
    from biosd_feature_annotator_spark.operators.sketches import (
        cms_join_size, cms_state,
    )

    a = spark.createDataFrame([(f"k{i % 37}",) for i in range(300)], "k string")
    b = spark.createDataFrame([(f"k{i % 23}",) for i in range(200)], "k string")
    true = sum((300 // 37 + (1 if i < 300 % 37 else 0))
               * (200 // 23 + (1 if i < 200 % 23 else 0))
               for i in range(min(37, 23)))
    for width in (8, 64, 2048):
        sa = cms_state(a, "k", depth=4, width=width)
        sb = cms_state(b, "k", depth=4, width=width)
        est = cms_join_size(sa, sb, depth=4, width=width).collect()[0].est
        assert est >= true   # inner products only add collision mass


def test_cms_join_size_disjoint_keys_reports_zero(spark):
    from biosd_feature_annotator_spark.operators.sketches import (
        cms_join_size, cms_state,
    )

    a = spark.createDataFrame([(f"a{i}",) for i in range(5)], "k string")
    b = spark.createDataFrame([(f"b{i}",) for i in range(5)], "k string")
    sa = cms_state(a, "k", depth=4, width=4096)
    sb = cms_state(b, "k", depth=4, width=4096)
    # at width 4096 the 10 keys share no cell on at least one hash row,
    # and a row absent from the join means inner product 0 — est must
    # report 0, not the min of the rows that happened to survive
    assert cms_join_size(sa, sb, depth=4, width=4096).collect()[0].est == 0


def test_rolling_hll_uniques_hand_case(spark):
    import datetime as dt

    from biosd_feature_annotator_spark.operators.sketches import (
        rolling_hll_uniques,
    )

    day = 86400

    def ts(s):
        return dt.datetime.fromtimestamp(s, dt.timezone.utc).replace(
            tzinfo=None
        )

    # day0: u1,u2 · day1: u2,u3 · day3: u1  (day2 empty -> no anchor)
    df = spark.createDataFrame(
        [("u1", ts(10)), ("u2", ts(20)), ("u2", ts(day + 5)),
         ("u3", ts(day + 6)), ("u1", ts(3 * day + 1))],
        "k string, ts timestamp",
    )
    got = {
        r.bucket: r
        for r in rolling_hll_uniques(df, "k", "ts", day, trailing=2)
        .collect()
    }
    assert set(got) == {0, day, 3 * day}
    # tiny cardinalities -> HLL is exact in sparse mode
    assert got[0].n_buckets_merged == 1 and got[0].n_est == 2
    assert got[day].n_buckets_merged == 2 and got[day].n_est == 3
    # day3's window is [day2, day3]; day2 has no state
    assert got[3 * day].n_buckets_merged == 1 and got[3 * day].n_est == 1


def test_bucketize_by_quantiles_hand_case(spark):
    from biosd_feature_annotator_spark.operators.sketches import (
        bucketize_by_quantiles,
    )

    df = spark.createDataFrame(
        [(1, 5.0), (2, 10.0), (3, 25.0), (4, 99.0), (5, None)],
        "id long, v double",
    )
    cuts = spark.createDataFrame([(10.0, 50.0)], "c1 double, c2 double")
    got = {
        r.id: r.qbin
        for r in bucketize_by_quantiles(df, "v", cuts, ["c1", "c2"])
        .collect()
    }
    # bin = #cuts at or below the value; NULL value -> NULL bin
    assert got == {1: 0, 2: 1, 3: 1, 4: 2, 5: None}


def test_portable_hll_merge_equals_direct_and_estimates(spark):
    from biosd_feature_annotator_spark.operators.sketches import (
        merge_portable_hll_states,
        portable_hll_estimate,
        portable_hll_state,
    )

    df = spark.range(0, 5000).select(
        (F.col("id") % 2).alias("g"),
        F.concat(F.lit("v"), F.col("id")).alias("v"),
    )
    direct = portable_hll_state(df, ["g"], "v")
    halves = [
        portable_hll_state(df.where(F.col("id") < 2500), ["g"], "v"),
        portable_hll_state(df.where(F.col("id") >= 2500), ["g"], "v"),
    ]
    merged = merge_portable_hll_states(*halves)
    assert sorted(map(tuple, direct.collect())) == sorted(
        map(tuple, merged.collect())
    )
    est = {
        r.g: r for r in portable_hll_estimate(direct, ["g"]).collect()
    }
    # 2500 distinct per group, m=1024 (rsd ~3.2%): raw estimator is in
    # its valid range; deterministic md5 makes this assertion stable
    for g in (0, 1):
        assert abs(est[g].n_est - 2500) < 2500 * 0.12
        assert 0 <= est[g].v_zero < 1024


def test_portable_hll_rho_special_cases(spark):
    from biosd_feature_annotator_spark.operators.sketches import (
        portable_hll_state,
    )

    st = portable_hll_state(
        spark.createDataFrame([("a",), ("b",), ("a",)], "v string"),
        [], "v", p=4,
    ).collect()
    # duplicates collapse; rho bounded by W+1 = 57 for p=4
    assert len(st) <= 2
    assert all(1 <= r.rho <= 57 for r in st)


def test_kmv_merge_estimate_and_jaccard(spark):
    from biosd_feature_annotator_spark.operators.sketches import (
        kmv_distinct_estimate,
        kmv_jaccard,
        kmv_state,
        merge_kmv_states,
    )

    df = spark.range(0, 3000).select(
        (F.col("id") % 2).alias("g"),
        F.concat(F.lit("v"), F.col("id")).alias("v"),
    )
    k = 64
    direct = kmv_state(df, ["g"], "v", k)
    halves = [
        kmv_state(df.where(F.col("id") < 1500), ["g"], "v", k),
        kmv_state(df.where(F.col("id") >= 1500), ["g"], "v", k),
    ]
    merged = merge_kmv_states(k, *halves)
    assert sorted(map(tuple, direct.collect())) == sorted(
        map(tuple, merged.collect())
    )
    est = {
        r.g: r
        for r in kmv_distinct_estimate(direct, ["g"], k).collect()
    }
    for g in (0, 1):   # 1500 distinct each; rsd ~ 1/sqrt(k-1) ~ 13%
        assert r_ok(est[g].n_est, 1500, 0.4)
    # small set: exact
    small = kmv_state(
        spark.createDataFrame([("a",), ("b",), ("a",)], "v string"),
        [], "v", k,
    )
    srow = kmv_distinct_estimate(small, [], k).collect()[0]
    assert (srow.n_state, srow.n_est) == (2, 2)

    # jaccard: sets {0..999} and {500..1499} -> true J = 1/3
    sa = kmv_state(df.where((F.col("g") == 0)), [], "v", 512)
    a_ids = spark.range(0, 1000).select(
        F.concat(F.lit("x"), F.col("id")).alias("v"))
    b_ids = spark.range(500, 1500).select(
        F.concat(F.lit("x"), F.col("id")).alias("v"))
    ja = kmv_jaccard(
        kmv_state(a_ids, [], "v", 256),
        kmv_state(b_ids, [], "v", 256), 256,
    ).collect()[0]
    assert ja.k_used == 256
    assert r_ok(ja.jaccard_micro, 333_333, 0.35)


def r_ok(got, want, tol):
    return abs(got - want) <= want * tol


def test_kmv_jaccard_pairs_hand_case(spark):
    from biosd_feature_annotator_spark.operators.sketches import (
        kmv_jaccard_pairs,
        kmv_state,
    )

    a = spark.createDataFrame(
        [("x", f"v{i}") for i in range(100)]
        + [("y", f"w{i}") for i in range(50)],
        "col_a string, val string",
    )
    b = spark.createDataFrame(
        [("p", f"v{i}") for i in range(100)]        # identical to x
        + [("q", f"z{i}") for i in range(40)],      # disjoint
        "col_b string, val string",
    )
    k = 256
    sa = kmv_state(a, ["col_a"], "val", k)
    sb = kmv_state(b, ["col_b"], "val", k)
    got = {
        (r.col_a, r.col_b): r
        for r in kmv_jaccard_pairs(sa, sb, k).collect()
    }
    assert set(got) == {("x", "p"), ("x", "q"), ("y", "p"), ("y", "q")}
    # x vs p: identical sets, union fits the sketch -> EXACT 1e6
    assert got[("x", "p")].jaccard_micro == 1_000_000
    assert got[("x", "q")].jaccard_micro == 0
    assert got[("y", "p")].n_common == 0
