"""Funnel and SCD2 tests.

Funnel semantics are pinned against a tiny hand-computed fixture plus a
brute-force python reference on the sf0.001 events table; SCD2 against
hand fixtures and an invariant audit (intervals tile, one current row
per key)."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import Row, functions as F

from biosd_feature_annotator_spark.operators.funnel import funnel_depths
from biosd_feature_annotator_spark.operators.scd import scd2_history


def _ts(s):
    return datetime.fromisoformat(s)


def _events(spark, rows):
    return spark.createDataFrame(
        [Row(event_id=i, user_id=u, ts=_ts(t), event_type=e)
         for i, (u, t, e) in enumerate(rows)]
    )


STEPS = ["signup", "view", "purchase"]


def test_funnel_basic_depths(spark):
    ev = _events(spark, [
        # u1 completes the funnel in order
        (1, "2024-01-01T00:00:00", "signup"),
        (1, "2024-01-01T01:00:00", "view"),
        (1, "2024-01-01T02:00:00", "purchase"),
        # u2 purchases BEFORE signup: depth 1 only
        (2, "2024-01-01T00:00:00", "purchase"),
        (2, "2024-01-01T01:00:00", "signup"),
        # u3 has only noise events: depth 0, still present
        (3, "2024-01-01T00:00:00", "error"),
    ])
    got = {r.user_id: r for r in funnel_depths(ev, STEPS).collect()}
    assert got[1].depth == 3 and got[1].ts_3 == _ts("2024-01-01T02:00:00")
    assert got[2].depth == 1 and got[2].ts_2 is None
    assert got[3].depth == 0 and got[3].ts_1 is None


def test_funnel_strictly_after_same_ts_does_not_advance(spark):
    ev = _events(spark, [
        (1, "2024-01-01T00:00:00", "signup"),
        (1, "2024-01-01T00:00:00", "view"),   # same instant: NOT after
        (1, "2024-01-01T00:30:00", "view"),
    ])
    row = funnel_depths(ev, STEPS).collect()[0]
    assert row.depth == 2
    assert row.ts_2 == _ts("2024-01-01T00:30:00")


def test_funnel_greedy_equals_min_chaining_reference(spark):
    """Property: the fold's result equals the min(ts) > prev chain,
    brute-forced in python on real sf0.001 events."""
    path = "/root/testdata/sf0.001/events.parquet"
    ev = spark.read.parquet(path)
    got = {r.user_id: r.depth for r in funnel_depths(ev, STEPS).collect()}

    rows = [(r.user_id, r.ts, r.event_type) for r in ev.collect()]
    by_user: dict = {}
    for u, ts, et in rows:
        by_user.setdefault(u, []).append((ts, et))
    for u, evs in by_user.items():
        depth, last = 0, None
        for want in STEPS:
            nxt = [ts for ts, et in evs if et == want and (last is None or ts > last)]
            if not nxt:
                break
            last = min(nxt)
            depth += 1
        assert got[u] == depth, f"user {u}: spark {got[u]} != ref {depth}"


def test_scd2_history_collapses_and_tiles(spark):
    obs = spark.createDataFrame([
        Row(k="a", v=1, ts=_ts("2024-01-01T00:00:00"), i=0),
        Row(k="a", v=1, ts=_ts("2024-01-02T00:00:00"), i=1),  # dup: merged
        Row(k="a", v=2, ts=_ts("2024-01-03T00:00:00"), i=2),
        Row(k="a", v=None, ts=_ts("2024-01-04T00:00:00"), i=3),  # NULL = change
        Row(k="b", v=9, ts=_ts("2024-01-01T00:00:00"), i=4),
    ])
    hist = scd2_history(obs, ["k"], "v", "ts", "i").orderBy("k", "effective_from")
    rows = hist.collect()
    a = [r for r in rows if r.k == "a"]
    assert [r.v for r in a] == [1, 2, None]
    # intervals tile: each effective_to equals the next effective_from
    for prev, nxt in zip(a, a[1:]):
        assert prev.effective_to == nxt.effective_from
    assert a[-1].is_current and a[-1].effective_to is None
    assert sum(r.is_current for r in rows) == 2  # exactly one per key


def test_fuzzy_pairs_semantics_and_block_cap(spark):
    from biosd_feature_annotator_spark.operators.canonicalize import fuzzy_pairs

    df = spark.createDataFrame(
        [
            (1, "acme corporation"),
            (2, "acme corporatian"),   # 1 substitution: matched
            (3, "acme inc"),           # same block, dist > 2: excluded
            (4, "zenith labs"),        # different block entirely
            (5, "zenith labz"),        # 1 sub vs 4: matched
        ],
        "id long, name string",
    )
    got = {(r.a, r.b): r.dist for r in
           fuzzy_pairs(df, "id", "name", max_dist=2, block_arg=4).collect()}
    assert got == {(1, 2): 1, (4, 5): 1}

    # soundex block finds phonetic twins the prefix block can't
    df2 = spark.createDataFrame(
        [(1, "smith"), (2, "smyth"), (3, "jones")], "id long, name string"
    )
    got2 = {(r.a, r.b) for r in
            fuzzy_pairs(df2, "id", "name", max_dist=2, block="soundex").collect()}
    assert got2 == {(1, 2)}

    # hot-block guard: a degenerate shared prefix is dropped, not exploded
    hot = spark.createDataFrame(
        [(i, f"same prefix {i}") for i in range(10)], "id long, name string"
    )
    assert fuzzy_pairs(hot, "id", "name", max_dist=99, max_block=5).count() == 0


def test_scd2_point_in_time_self_consistent(spark):
    """Self-validation on real data: an event joined to the history
    derived from the same events must see its OWN value bucket (the
    version effective at its ts starts at or before it with the same
    bucket), and the tiling intervals guarantee exactly one match."""
    from biosd_feature_annotator_spark.operators.scd import (
        scd2_history,
        scd2_point_in_time,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "event_id", "user_id", "ts",
        F.floor(F.coalesce(F.col("value"), F.lit(0.0)) / 100)
        .cast("long").alias("bucket"),
    )
    hist = scd2_history(
        e.select("user_id", "bucket", "ts", "event_id"),
        ["user_id"], "bucket", "ts", "event_id",
    )
    pit = scd2_point_in_time(
        e.select("event_id", "user_id", "ts", F.col("bucket").alias("own")),
        hist, ["user_id"],
    )
    assert pit.count() == e.count()  # tiling intervals: no fan-out
    assert pit.where(F.col("bucket") != F.col("own")).count() == 0
    assert pit.where(F.col("bucket").isNull()).count() == 0


def test_scd2_point_in_time_before_first_version_is_null(spark):
    from datetime import datetime

    from biosd_feature_annotator_spark.operators.scd import scd2_point_in_time

    dim = spark.createDataFrame(
        [("a", 1, datetime(2024, 2, 1), None, True)],
        "k string, v long, effective_from timestamp, "
        "effective_to timestamp, is_current boolean",
    )
    facts = spark.createDataFrame(
        [Row(fid=1, k="a", ts=datetime(2024, 1, 1)),    # predates history
         Row(fid=2, k="a", ts=datetime(2024, 3, 1))]
    )
    rows = {r.fid: r.v for r in
            scd2_point_in_time(facts, dim, ["k"]).collect()}
    assert rows[1] is None and rows[2] == 1


def test_check_constraints_counts_injected_violations(spark):
    from biosd_feature_annotator_spark.plans import quality as dq

    df = spark.createDataFrame(
        [
            (1, "O", 10.0, "ok"),
            (1, "X", -5.0, "ok"),      # dup key, bad status, below range
            (2, None, 20.0, "bad!"),   # null status, regex miss
            (3, "F", None, "ok"),      # null price counts as range violation
        ],
        "k long, status string, price double, tag string",
    )
    dim = spark.createDataFrame([(1,), (2,)], "k long")  # 3 dangles
    rep = {r.rule: (r.violations, r.total, r.passed) for r in
           dq.check_constraints(df, [
               dq.not_null("status"),
               dq.accepted_values("status", ["O", "F"]),
               dq.in_range("price", 0.0, 100.0),
               dq.matches("tag", "^ok$"),
               dq.unique(["k"]),
               dq.referential("k", dim, "k", "d"),
           ]).collect()}
    assert rep["not_null(status)"] == (1, 4, False)
    assert rep["accepted_values(status)"] == (2, 4, False)
    assert rep["range(price,0.0,100.0)"] == (2, 4, False)
    assert rep["matches(tag)"] == (1, 4, False)
    assert rep["unique(k)"] == (2, 4, False)      # both rows of the dup key
    assert rep["referential(k->d.k)"] == (1, 4, False)


def test_check_constraints_all_green_on_clean_data(spark):
    from biosd_feature_annotator_spark.plans import quality as dq

    df = spark.range(100).select(F.col("id").alias("k"))
    rep = dq.check_constraints(df, [dq.not_null("k"), dq.unique(["k"])])
    assert rep.where(~F.col("passed")).count() == 0


# ------------------------------------------------------------- cohorts
def test_retention_cohorts_hand_fixture(spark):
    from biosd_feature_annotator_spark.operators.funnel import retention_cohorts

    rows = [
        ("u1", datetime(2024, 1, 5)), ("u1", datetime(2024, 2, 9)),
        ("u1", datetime(2024, 2, 20)),  # same period twice: counted once
        ("u2", datetime(2024, 1, 28)),
        ("u3", datetime(2024, 2, 1)), ("u3", datetime(2024, 3, 1)),
    ]
    ev = spark.createDataFrame(rows, "user_id string, ts timestamp")
    got = {(str(r.cohort), str(r.period)): r.n_users
           for r in retention_cohorts(ev).collect()}
    assert got == {
        ("2024-01-01", "2024-01-01"): 2,   # u1, u2 start in Jan
        ("2024-01-01", "2024-02-01"): 1,   # u1 retained in Feb
        ("2024-02-01", "2024-02-01"): 1,   # u3 starts in Feb
        ("2024-02-01", "2024-03-01"): 1,   # u3 retained in Mar
    }


def test_retention_cohorts_invariants_on_events(spark):
    from biosd_feature_annotator_spark.operators.funnel import retention_cohorts

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    cells = retention_cohorts(ev).collect()
    # no cell before its cohort, and the diagonal sums to distinct users
    assert all(r.period >= r.cohort for r in cells)
    diag = sum(r.n_users for r in cells if r.period == r.cohort)
    assert diag == ev.select("user_id").distinct().count()


def test_chi2_association_hand_2x2(spark):
    from biosd_feature_annotator_spark.plans.quality import chi2_association

    rows = ([("x", "p")] * 30 + [("x", "q")] * 10
            + [("y", "p")] * 10 + [("y", "q")] * 30)
    df = spark.createDataFrame(rows, "a string, b string")
    r = chi2_association(df, "a", "b").collect()[0]
    # expected 20 per cell -> chi2 = 4 * (10^2/20) = 20; V = sqrt(20/80)=0.5
    assert (r.n, r.r_levels, r.c_levels, r.dof) == (80, 2, 2, 1)
    assert r.chi2_micro == 20_000_000
    assert r.cramers_v_micro == 500_000


def test_chi2_association_independent_is_near_zero(spark):
    from biosd_feature_annotator_spark.plans.quality import chi2_association

    # perfectly balanced grid: observed == expected exactly
    rows = [(f"a{i % 3}", f"b{j % 4}") for i in range(3) for j in range(4)
            for _ in range(10)]
    df = spark.createDataFrame(rows, "a string, b string")
    r = chi2_association(df, "a", "b").collect()[0]
    assert r.chi2_micro == 0 and r.dof == 6


def test_chi2_association_deterministic_and_degenerate(spark):
    from biosd_feature_annotator_spark.plans.quality import chi2_association

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    one = chi2_association(d, "lang", "source").collect()[0]
    two = chi2_association(d.repartition(13), "lang", "source").collect()[0]
    assert tuple(one) == tuple(two)
    # single-level column: dof 0, V is NULL, chi2 is 0
    r = chi2_association(d.withColumn("k", F.lit("only")), "k", "lang") \
        .collect()[0]
    assert r.dof == 0 and r.cramers_v_micro is None and r.chi2_micro == 0


# ------------------------------------------------- r5: interval_conflicts


def _iv(spark, rows):
    return spark.createDataFrame(
        rows, "k string, effective_from int, effective_to int")


def test_interval_conflicts_hand_counts(spark):
    from biosd_feature_annotator_spark.operators.scd import interval_conflicts

    d = _iv(spark, [("A", 1, 5), ("A", 3, 8), ("A", 8, 10), ("A", 2, 3)])
    got = {(r.effective_from, r.effective_to): (r.n_overlaps, r.is_conflict)
           for r in interval_conflicts(d, ["k"]).collect()}
    # [1,5) overlaps [3,8) and [2,3); touching ends ([3,8)+[8,10),
    # [2,3)+[3,8)) do NOT overlap under the open-interval test
    assert got == {(1, 5): (2, True), (3, 8): (1, True),
                   (8, 10): (0, False), (2, 3): (1, True)}


def test_interval_conflicts_open_intervals_and_keys(spark):
    from biosd_feature_annotator_spark.operators.scd import interval_conflicts

    d = _iv(spark, [
        ("A", 3, 8), ("A", 8, 10), ("A", 9, None),   # open end overlaps [8,10)
        ("B", 1, 2), ("B", 5, None),                 # other key: clean
    ])
    got = {(r.k, r.effective_from): r.n_overlaps
           for r in interval_conflicts(d, ["k"]).collect()}
    assert got == {("A", 3): 0, ("A", 8): 1, ("A", 9): 1,
                   ("B", 1): 0, ("B", 5): 0}


def test_interval_conflicts_scd2_history_is_clean(spark):
    from biosd_feature_annotator_spark.operators.scd import interval_conflicts

    obs = spark.createDataFrame(
        [("u1", "a", 1), ("u1", "b", 3), ("u1", "b", 5), ("u1", "c", 7),
         ("u2", "x", 2), ("u2", "y", 9)],
        "user string, val string, ts int")
    dim = scd2_history(obs, ["user"], "val", "ts")
    flagged = interval_conflicts(dim, ["user"]).where("is_conflict").count()
    assert flagged == 0   # tiling intervals never conflict


def test_interval_conflicts_duplicate_rows_and_determinism(spark):
    from biosd_feature_annotator_spark.operators.scd import interval_conflicts

    # duplicate identical intervals DO overlap each other; determinism
    # holds with no tie-break column because counts are multiset-only
    d = _iv(spark, [("A", 1, 5), ("A", 1, 5), ("A", 1, 5)])
    got = [r.n_overlaps for r in interval_conflicts(d, ["k"]).collect()]
    assert got == [2, 2, 2]
    big = spark.createDataFrame(
        [(f"k{i % 7}", i % 13, i % 13 + 1 + (i % 5)) for i in range(200)],
        "k string, effective_from int, effective_to int")
    one = sorted(tuple(r) for r in interval_conflicts(big, ["k"]).collect())
    two = sorted(tuple(r) for r in interval_conflicts(
        big.repartition(17), ["k"]).collect())
    assert one == two and len(one) == 200


# --------------------------------------------------- r5: robust_outliers


def test_robust_outliers_odd_group_hand_values(spark):
    from biosd_feature_annotator_spark.plans.quality import robust_outliers

    d = spark.createDataFrame(
        [("g", i, v) for i, v in enumerate([10, 12, 11, 14, 100])],
        "grp string, id int, v long")
    got = {r.id: r for r in robust_outliers(d, ["grp"], "v").collect()}
    # sorted [10,11,12,14,100]: med2 = 2*12 (odd n: middle doubled),
    # devs [4,2,0,4,176] → mad2 = 2*4 = 8 (MAD 2); k=3 flags only 100
    assert got[0].med2 == 24 and got[0].mad2 == 8
    assert {i: r.is_outlier for i, r in got.items()} \
        == {0: False, 1: False, 2: False, 3: False, 4: True}


def test_robust_outliers_even_group_boundary(spark):
    from biosd_feature_annotator_spark.plans.quality import robust_outliers

    d = spark.createDataFrame(
        [("g", i, v) for i, v in enumerate([10, 20, 30, 40])],
        "grp string, id int, v long")
    got = {r.id: r for r in robust_outliers(d, ["grp"], "v", k_num=1).collect()}
    # med2 = 20+30 = 50, devs [30,10,10,30] → mad2 = 10+30 = 40 (MAD 10)
    # k=1: |x-25| > 14.826 ⇔ dev·20000 > 14826·40: dev 30 (=15) flags,
    # dev 10 (=5) does not — the 1.4826 factor decides, not a round k·MAD
    assert got[0].med2 == 50 and got[0].mad2 == 40
    assert {i: r.is_outlier for i, r in got.items()} \
        == {0: True, 1: False, 2: False, 3: True}


def test_robust_outliers_mean_would_mask(spark):
    from biosd_feature_annotator_spark.plans.quality import robust_outliers

    # one huge outlier drags the MEAN to ~1010 and stddev to ~3000 —
    # a 3σ z-score flags nothing; the median/MAD rule flags exactly it
    vals = [100, 101, 99, 102, 98, 100, 101, 99, 10000]
    d = spark.createDataFrame(
        [("g", i, v) for i, v in enumerate(vals)], "grp string, id int, v long")
    flagged = {r.id for r in robust_outliers(d, ["grp"], "v").collect()
               if r.is_outlier}
    assert flagged == {8}
    import statistics
    mu, sd = statistics.mean(vals), statistics.pstdev(vals)
    assert not any(abs(v - mu) > 3 * sd for v in vals)  # z-score is blind


def test_robust_outliers_groups_and_determinism(spark):
    from biosd_feature_annotator_spark.plans.quality import robust_outliers

    d = spark.createDataFrame(
        [(f"g{i % 3}", i, (i * 37) % 101 + (10_000 if i == 17 else 0))
         for i in range(60)],
        "grp string, id int, v long")
    one = sorted(tuple(r) for r in robust_outliers(d, ["grp"], "v").collect())
    two = sorted(tuple(r) for r in robust_outliers(
        d.repartition(13), ["grp"], "v").collect())
    assert one == two and len(one) == 60
    flagged = [r for r in one if r[-1]]
    assert len(flagged) == 1 and flagged[0][1] == 17


# --------------------------------------------------- r5: event_transitions


def test_event_transitions_hand_matrix(spark):
    from biosd_feature_annotator_spark.operators.funnel import event_transitions

    rows = [
        ("u1", "view", 1, 1), ("u1", "cart", 2, 2), ("u1", "view", 3, 3),
        ("u1", "buy", 4, 4),
        ("u2", "view", 1, 5), ("u2", "view", 2, 6), ("u2", "cart", 3, 7),
    ]
    d = spark.createDataFrame(
        rows, "user_id string, event_type string, ts int, event_id int")
    got = {(r.from_type, r.to_type): (r.n, r.p_micro)
           for r in event_transitions(d).collect()}
    # view→cart ×2, view→view ×1, view→buy ×1 (row total 4);
    # cart→view ×1 (row total 1); terminal buy/cart rows dropped
    assert got == {
        ("view", "cart"): (2, 500_000),
        ("view", "view"): (1, 250_000),
        ("view", "buy"): (1, 250_000),
        ("cart", "view"): (1, 1_000_000),
    }


def test_event_transitions_tie_pinned_by_order_col(spark):
    from biosd_feature_annotator_spark.operators.funnel import event_transitions

    # two events share ts=1; event_id pins the order: a→b→c, not a→c→b
    rows = [("u", "a", 1, 1), ("u", "b", 1, 2), ("u", "c", 2, 3)]
    d = spark.createDataFrame(
        rows, "user_id string, event_type string, ts int, event_id int")
    got = {(r.from_type, r.to_type) for r in event_transitions(d).collect()}
    assert got == {("a", "b"), ("b", "c")}


def test_event_transitions_deterministic_across_partitionings(spark):
    from biosd_feature_annotator_spark.operators.funnel import event_transitions

    rows = [(f"u{i % 9}", ["v", "c", "b", "s"][(i * 5) % 4], i % 17, i)
            for i in range(300)]
    d = spark.createDataFrame(
        rows, "user_id string, event_type string, ts int, event_id int")
    one = sorted(tuple(r) for r in event_transitions(d).collect())
    two = sorted(tuple(r) for r in event_transitions(d.repartition(21)).collect())
    assert one == two and len(one) > 0
    # each from-row's probabilities sum to 1e6 minus the floor residue
    from collections import defaultdict
    sums, counts = defaultdict(int), defaultdict(int)
    for ft, _, _, p in one:
        sums[ft] += p
        counts[ft] += 1
    assert all(1_000_000 - counts[ft] < s <= 1_000_000 for ft, s in sums.items())


# ---------------------------------------------------------------- coalesce

def _intervals(spark, rows):
    return spark.createDataFrame(
        [Row(k=k, effective_from=f, effective_to=t) for k, f, t in rows],
        schema="k string, effective_from long, effective_to long",
    )


def test_coalesce_merges_overlap_and_adjacency(spark):
    from biosd_feature_annotator_spark.operators.scd import coalesce_intervals

    iv = _intervals(spark, [
        ("a", 1, 5), ("a", 3, 7),     # overlap -> one island
        ("a", 7, 9),                  # adjacent (meets) -> still merges
        ("a", 20, 25),                # gap -> second island
        ("b", 0, 2),
    ])
    got = {(r.k, r.valid_from): r for r in
           coalesce_intervals(iv, ["k"]).collect()}
    assert got[("a", 1)].valid_to == 9 and got[("a", 1)].n_merged == 3
    assert got[("a", 20)].valid_to == 25 and got[("a", 20)].n_merged == 1
    assert got[("b", 0)].valid_to == 2
    assert len(got) == 3


def test_coalesce_open_end_absorbs(spark):
    from biosd_feature_annotator_spark.operators.scd import coalesce_intervals

    iv = _intervals(spark, [
        ("a", 1, 3),
        ("a", 2, None),               # open -> absorbs everything after
        ("a", 100, 200),
    ])
    rows = coalesce_intervals(iv, ["k"]).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.valid_from == 1 and r.valid_to is None and r.n_merged == 3


def test_coalesce_tie_determinism(spark):
    """Equal-start intervals always share an island and the aggregate is
    tie-order-free: shuffle partitioning / input order cannot change the
    result (the docstring's head/non-head argument, exercised)."""
    from biosd_feature_annotator_spark.operators.scd import coalesce_intervals

    rows = [("a", 5, 6), ("a", 5, 30), ("a", 5, 10), ("a", 40, 41)]
    for perm in (rows, rows[::-1], rows[1:] + rows[:1]):
        got = sorted(
            (r.valid_from, r.valid_to, r.n_merged)
            for r in coalesce_intervals(
                _intervals(spark, perm).repartition(7), ["k"]
            ).collect()
        )
        assert got == [(5, 30, 3), (40, 41, 1)]


def test_coverage_gaps_dual(spark):
    from biosd_feature_annotator_spark.operators.scd import coverage_gaps

    iv = _intervals(spark, [
        ("a", 1, 5), ("a", 8, 10), ("a", 10, 12), ("a", 20, 21),
        ("b", 0, 9),                  # tiles -> no gap rows
    ])
    got = sorted((r.k, r.gap_from, r.gap_to)
                 for r in coverage_gaps(iv, ["k"]).collect())
    assert got == [("a", 5, 8), ("a", 12, 20)]


# ---------------------------------------------------------------- kappa

def test_cohens_kappa_textbook_case(spark):
    from biosd_feature_annotator_spark.plans.quality import cohens_kappa

    rows = ([(True, True)] * 20 + [(True, False)] * 5
            + [(False, True)] * 10 + [(False, False)] * 15)
    df = spark.createDataFrame(rows, "rater_a boolean, rater_b boolean")
    r = cohens_kappa(df).collect()[0]
    # n=50 agree=35 margins 25/30: s=25*30+25*20=1250
    # kappa = (1750-1250)/(2500-1250) = 0.4
    assert (r.n, r.n_agree, r.s_marg) == (50, 35, 1250)
    assert r.kappa_micro == 400_000


def test_cohens_kappa_worse_than_chance_and_degenerate(spark):
    from biosd_feature_annotator_spark.plans.quality import cohens_kappa

    perfect_disagree = spark.createDataFrame(
        [(True, False)] * 2 + [(False, True)] * 2,
        "rater_a boolean, rater_b boolean",
    )
    r = cohens_kappa(perfect_disagree).collect()[0]
    assert r.kappa_micro == -1_000_000  # exact floor, negative

    constant = spark.createDataFrame(
        [(True, True)] * 3, "rater_a boolean, rater_b boolean"
    )
    r2 = cohens_kappa(constant).collect()[0]
    assert r2.kappa_micro is None  # p_e = 1: undefined -> NULL


def test_cohens_kappa_multicategory(spark):
    from biosd_feature_annotator_spark.plans.quality import cohens_kappa

    df = spark.createDataFrame(
        [("x", "x"), ("x", "y"), ("y", "y")],
        "rater_a string, rater_b string",
    )
    r = cohens_kappa(df).collect()[0]
    # s = 2*1 + 1*2 = 4; kappa = (6-4)/(9-4) = 0.4
    assert (r.n, r.n_agree, r.s_marg, r.kappa_micro) == (3, 2, 4, 400_000)


# ---------------------------------------------------------------- auc / ece
def test_binary_auc_hand_case(spark):
    from biosd_feature_annotator_spark.plans.quality import binary_auc

    # scores: pos at {3, 2}, neg at {2, 1, 0}
    # pairs: (3>2),(3>1),(3>0) wins; (2==2) tie; (2>1),(2>0) wins
    # U = 5 + 0.5 = 5.5 of 6 -> AUC = 11/12 = 0.91666..
    df = spark.createDataFrame(
        [(3, True), (2, True), (2, False), (1, False), (0, False)],
        "score long, is_pos boolean",
    )
    r = binary_auc(df).collect()[0]
    assert r.n_pos == 2 and r.n_neg == 3
    assert r.u2 == 11  # 2*U
    assert r.auc_micro == 916_666  # floor(11e6/12)

    # perfect ranking -> 1.0; reversed -> 0.0
    perfect = spark.createDataFrame(
        [(9, True), (1, False)], "score long, is_pos boolean"
    )
    assert binary_auc(perfect).collect()[0].auc_micro == 1_000_000
    rev = spark.createDataFrame(
        [(1, True), (9, False)], "score long, is_pos boolean"
    )
    assert binary_auc(rev).collect()[0].auc_micro == 0

    # single-class input -> NULL auc, counts still exact
    mono = spark.createDataFrame(
        [(5, True), (7, True)], "score long, is_pos boolean"
    )
    m = binary_auc(mono).collect()[0]
    assert m.n_neg == 0 and m.auc_micro is None


def test_calibration_bins_hand_case(spark):
    from biosd_feature_annotator_spark.plans.quality import (
        calibration_bins,
    )

    # bin 9: two rows at conf .95, one positive -> gap = |1.9e6-1e6|
    # bin 0: one row at conf .05, negative -> gap = 5e4
    # conf 1.0 lands in bin 9 via the LEAST clamp
    df = spark.createDataFrame(
        [
            (950_000, True), (950_000, False),
            (50_000, False),
            (1_000_000, True),
        ],
        "conf_micro long, is_pos boolean",
    )
    got = {r.bin: r for r in calibration_bins(df).collect()}
    assert set(got) == {0, 9}
    b9 = got[9]
    assert b9.n == 3 and b9.n_pos == 2
    assert b9.sum_conf_micro == 2_900_000
    assert b9.gap_micro == 900_000
    assert got[0].gap_micro == 50_000
    # ECE = (900000+50000)/4 = 237500, same on every row
    assert {r.ece_micro for r in got.values()} == {237_500}


def test_gram_matrix_hand_case(spark):
    from biosd_feature_annotator_spark.operators.similarity import (
        gram_matrix,
    )

    # two 3-d vectors; quant=1000: v1=(1000,2000,0), v2=(0,1000,-1000)
    df = spark.createDataFrame(
        [([1.0, 2.0, 0.0],), ([0.0, 1.0, -1.0],)],
        "embedding array<float>",
    )
    got = {(r.i, r.j): r.g for r in gram_matrix(df).collect()}
    # upper triangle only, exact integer sums
    assert got == {
        (0, 0): 1_000_000 + 0,
        (0, 1): 2_000_000 + 0,
        (0, 2): 0 + 0,
        (1, 1): 4_000_000 + 1_000_000,
        (1, 2): 0 - 1_000_000,
        (2, 2): 0 + 1_000_000,
    }


def test_gini_impurity_hand_case(spark):
    from biosd_feature_annotator_spark.plans.quality import gini_impurity

    # g1: 2+2 of two labels -> gini = 1 - 8/16 = .5; hhi = .5
    # g2: 3 of one label -> gini 0, hhi 1
    # g3: 1+2 -> gini = 1 - 5/9 = 4/9 = .444444, floor micro 444444
    df = spark.createDataFrame(
        [("g1", "x"), ("g1", "x"), ("g1", "y"), ("g1", "y"),
         ("g2", "x"), ("g2", "x"), ("g2", "x"),
         ("g3", "x"), ("g3", "y"), ("g3", "y")],
        "g string, lab string",
    )
    got = {r.g: r for r in gini_impurity(df, ["g"], "lab").collect()}
    assert got["g1"].n == 4 and got["g1"].sum_sq == 8
    assert got["g1"].gini_micro == 500_000
    assert got["g1"].hhi_micro == 500_000
    assert got["g2"].gini_micro == 0 and got["g2"].hhi_micro == 1_000_000
    assert got["g3"].gini_micro == 444_444  # floor(4e6/9)
    assert got["g3"].hhi_micro == 555_555


def test_tv_distance_hand_case(spark):
    from biosd_feature_annotator_spark.plans.quality import tv_distance

    # a: {x:2, y:2} (n=4); b: {x:1, z:1} (n=2)
    # TV = .5*(|.5-.5| + |.5-0| + |0-.5|) = .5
    df = spark.createDataFrame(
        [("x", "a"), ("x", "a"), ("y", "a"), ("y", "a"),
         ("x", "b"), ("z", "b"),
         ("w", "c")],  # other groups ignored
        "k string, grp string",
    )
    r = tv_distance(df, "k", "grp", "a", "b").collect()[0]
    assert r.n_a == 4 and r.n_b == 2 and r.n_keys == 3
    assert r.tv_micro == 500_000

    # identical distributions -> 0
    same = spark.createDataFrame(
        [("x", "a"), ("x", "b"), ("y", "a"), ("y", "b")],
        "k string, grp string",
    )
    assert tv_distance(same, "k", "grp", "a", "b").collect()[0] \
        .tv_micro == 0

    # disjoint supports -> 1
    disj = spark.createDataFrame(
        [("x", "a"), ("y", "b")], "k string, grp string"
    )
    assert tv_distance(disj, "k", "grp", "a", "b").collect()[0] \
        .tv_micro == 1_000_000


def test_decayed_sum_hand_case(spark):
    from biosd_feature_annotator_spark.operators.scd import decayed_sum

    # anchor 1000, bucket 100: ages 0, 150, 250 -> deltas 0, 1, 2
    # terms: 80*1e6, 40*1e6/2 = 20e6, 100*1e6/4 = 25e6
    df = spark.createDataFrame(
        [("u", 80, 1000), ("u", 40, 850), ("u", 100, 750),
         # future timestamp clamps to delta 0; huge age clamps to 40
         ("v", 8, 1100), ("v", 1 << 20, -999_999)],
        "k string, v long, es long",
    )
    got = {r.k: r for r in
           decayed_sum(df, ["k"], "v", "es", anchor_epoch=1000,
                       bucket_sec=100).collect()}
    assert got["u"].n == 3
    assert got["u"].decayed_micro == 80_000_000 + 20_000_000 + 25_000_000
    # v: 8e6 + round(2^20 * 1e6 / 2^40) = 8e6 + round(1e6/2^20) = 8e6+1
    assert got["v"].decayed_micro == 8_000_000 + 1


def test_ks_distance_hand_case(spark):
    from biosd_feature_annotator_spark.plans.quality import ks_distance

    # a: {1, 2, 3}; b: {2, 3, 4}
    # cum diffs (x3 common den 9): v1 |3-0|=3, v2 |6-3|=3, v3 |9-6|=3,
    # v4 |9-9|=0 -> D = 3/9 = 1/3 -> 333333
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "a"), (2, "b"), (3, "b"), (4, "b")],
        "v long, grp string",
    )
    r = ks_distance(df, "v", "grp", "a", "b").collect()[0]
    assert r.n_a == 3 and r.n_b == 3 and r.n_values == 4
    assert r.ks_micro == 333_333

    # disjoint supports -> D = 1
    disj = spark.createDataFrame(
        [(1, "a"), (2, "a"), (9, "b")], "v long, grp string"
    )
    assert ks_distance(disj, "v", "grp", "a", "b").collect()[0] \
        .ks_micro == 1_000_000

    # identical samples -> 0
    same = spark.createDataFrame(
        [(5, "a"), (5, "b"), (7, "a"), (7, "b")], "v long, grp string"
    )
    assert ks_distance(same, "v", "grp", "a", "b").collect()[0] \
        .ks_micro == 0


def test_regression_metrics_hand_case(spark):
    from biosd_feature_annotator_spark.plans.quality import (
        regression_metrics,
    )

    # y = (2, 4, 6), yhat = (3, 4, 5): sae = 2, sse = 2
    # mean = 4, SST = 8 -> r2 = 1 - 2/8 = 0.75
    df = spark.createDataFrame(
        [(2, 3), (4, 4), (6, 5)], "y long, yhat long"
    )
    r = regression_metrics(df, "y", "yhat").collect()[0]
    assert r.n == 3 and r.sae == 2 and r.sse == 2
    assert r.mae_micro == 666_666  # floor(2e6/3)
    assert r.mse_micro == 666_666
    assert r.r2_micro == 750_000

    # predictor worse than the mean -> negative R², true floor
    bad = spark.createDataFrame(
        [(0, 10), (10, 0)], "y long, yhat long"
    )
    b = regression_metrics(bad, "y", "yhat").collect()[0]
    # SSE = 200, SST = 50 -> r2 = 1-4 = -3
    assert b.r2_micro == -3_000_000

    # constant target -> SST = 0 -> NULL r2, components still exact
    const = spark.createDataFrame(
        [(5, 4), (5, 6)], "y long, yhat long"
    )
    c = regression_metrics(const, "y", "yhat").collect()[0]
    assert c.r2_micro is None and c.sae == 2


def test_mannwhitney_hand_case(spark):
    from biosd_feature_annotator_spark.plans.quality import mannwhitney_u

    # a: {1,2,3}, b: {2,3,4} -> U_a = 0 + 0.5 + 1.5 = 2 -> u2 = 4
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "a"), (2, "b"), (3, "b"), (4, "b")],
        "v long, grp string",
    )
    r = mannwhitney_u(df, "v", "grp", "a", "b").collect()[0]
    assert r.n_a == 3 and r.n_b == 3
    assert r.u2_a == 4
    assert r.rho_micro == 222_222  # floor(4e6 / 18)

    # total dominance of a -> rho = 1
    dom = spark.createDataFrame(
        [(10, "a"), (11, "a"), (1, "b"), (2, "b")], "v long, grp string"
    )
    assert mannwhitney_u(dom, "v", "grp", "a", "b").collect()[0] \
        .rho_micro == 1_000_000

    # identical samples -> rho = 1/2 exactly
    same = spark.createDataFrame(
        [(5, "a"), (7, "a"), (5, "b"), (7, "b")], "v long, grp string"
    )
    assert mannwhitney_u(same, "v", "grp", "a", "b").collect()[0] \
        .rho_micro == 500_000


def test_cluster_pair_metrics_hand_case(spark):
    from biosd_feature_annotator_spark.plans.quality import (
        cluster_pair_metrics,
    )

    # pred {1,2}{3,4} vs gold {1,2,3}{4}: TP=1, P=2, G=3, C=6
    df = spark.createDataFrame(
        [(1, "p1", "gA"), (2, "p1", "gA"), (3, "p2", "gA"),
         (4, "p2", "gB")],
        "item long, pred string, gold string",
    )
    r = cluster_pair_metrics(df, "pred", "gold").collect()[0]
    assert (r.n, r.tp_pairs, r.pred_pairs, r.gold_pairs) == (4, 1, 2, 3)
    assert r.precision_micro == 500_000
    assert r.recall_micro == 333_333
    assert r.f1_micro == 400_000       # 2·1/(2+3)
    assert r.rand_micro == 500_000     # (6-2-3+2)/6
    assert r.ari_micro == 0            # agreement exactly at chance

    # perfect clustering -> everything 1.0
    perf = spark.createDataFrame(
        [(1, "x", "g1"), (2, "x", "g1"), (3, "y", "g2"), (4, "y", "g2")],
        "item long, pred string, gold string",
    )
    p = cluster_pair_metrics(perf, "pred", "gold").collect()[0]
    assert p.precision_micro == p.recall_micro == p.f1_micro == 1_000_000
    assert p.rand_micro == 1_000_000 and p.ari_micro == 1_000_000

    # all-singletons pred: no predicted pairs -> precision NULL, ARI 0
    sing = spark.createDataFrame(
        [(1, "a", "g1"), (2, "b", "g1"), (3, "c", "g2")],
        "item long, pred string, gold string",
    )
    s = cluster_pair_metrics(sing, "pred", "gold").collect()[0]
    assert s.pred_pairs == 0 and s.precision_micro is None
    assert s.ari_micro == 0


def test_fd_profile_hand_case(spark):
    from biosd_feature_annotator_spark.plans.quality import fd_profile

    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (1, "b"), (2, "c")], "l long, r string"
    )
    rows = {x.lhs: x for x in fd_profile(
        df, [("l", "r"), ("r", "l")]).collect()}
    v = rows["l"]  # l -> r violated in group l=1
    assert (v.n_groups, v.viol_groups, v.viol_rows) == (2, 1, 3)
    assert v.keep_rows == 3            # keep both 'a' rows + 'c'
    assert v.g2_micro == 750_000       # 3 of 4 rows in violating groups
    assert v.g3_micro == 250_000       # delete 1 of 4 rows to repair
    h = rows["r"]  # r -> l holds exactly
    assert h.viol_groups == 0 and h.g2_micro == 0 and h.g3_micro == 0


def _ets(epoch_s):
    import datetime as dt

    return dt.datetime.fromtimestamp(epoch_s, dt.timezone.utc).replace(
        tzinfo=None
    )


def test_rate_bursts_hand_case(spark):
    from biosd_feature_annotator_spark.operators.funnel import rate_bursts

    rows = (
        [("u", _ets(10))] + [("u", _ets(3700))] + [("u", _ets(7300))]
        + [("u", _ets(10900 + i)) for i in range(9)]
        # v has a GAP at bucket 7200 -> its spike must NOT qualify
        + [("v", _ets(10)), ("v", _ets(3700))]
        + [("v", _ets(10900 + i)) for i in range(9)]
    )
    df = spark.createDataFrame(rows, "k string, ts timestamp")
    got = {
        (r.k, r.bucket): r
        for r in rate_bursts(df, ["k"], "ts", 3600, trailing=3).collect()
    }
    spike = got[("u", 10800)]
    assert spike.cnt == 9 and spike.prior_sum == 3
    assert spike.ratio_micro == 9_000_000   # 9·3e6 // 3
    assert spike.is_burst is True
    # early buckets lack a full contiguous trailing window
    assert got[("u", 0)].is_burst is False
    assert got[("u", 3600)].ratio_micro is None
    # v's history has a hole -> contiguity guard refuses the ratio
    gap = got[("v", 10800)]
    assert gap.prior_sum == 2
    assert gap.ratio_micro is None and gap.is_burst is False


def test_cumulative_distinct_hand_case(spark):
    from biosd_feature_annotator_spark.operators.funnel import (
        cumulative_distinct,
    )

    day = 86400
    df = spark.createDataFrame(
        [("u1", _ets(10)), ("u2", _ets(20)), ("u1", _ets(day + 5)),
         ("u3", _ets(2 * day + 5))],
        "k string, ts timestamp",
    )
    got = sorted(
        map(tuple, cumulative_distinct(df, "k", "ts", day).collect())
    )
    assert got == [
        (0, 2, 2, 2),        # day 0: u1,u2 active, both new
        (day, 1, 0, 2),      # day 1: u1 returns, nobody new
        (2 * day, 1, 1, 3),  # day 2: u3 arrives
    ]


def test_k_anonymity_profile_hand_case(spark):
    from biosd_feature_annotator_spark.plans.quality import (
        k_anonymity_profile,
    )

    df = spark.createDataFrame(
        [("a", 1)] * 5 + [("a", 2)] * 2 + [("b", 1)],
        "seg string, code long",
    )
    r = k_anonymity_profile(df, ["seg", "code"], k=3).collect()[0]
    assert (r.n_rows, r.n_groups, r.min_group) == (8, 3, 1)
    # groups (a,2)=2 and (b,1)=1 violate k=3 -> 3 of 8 rows
    assert (r.viol_groups, r.viol_rows) == (2, 3)
    assert r.risk_micro == 375_000


def test_profile_columns_hand_case(spark):
    from biosd_feature_annotator_spark.plans.quality import profile_columns

    df = spark.createDataFrame(
        [(1, "x"), (2, None), (2, "y")], "a long, b string"
    )
    got = {r.column: r for r in profile_columns(df, ["a", "b"]).collect()}
    assert (got["a"].n_rows, got["a"].n_null, got["a"].n_distinct) == (3, 0, 2)
    assert (got["a"].min_val, got["a"].max_val) == ("1", "2")
    assert (got["b"].n_null, got["b"].n_distinct) == (1, 2)
    assert (got["b"].min_val, got["b"].max_val) == ("x", "y")


def test_resample_counts_zero_fills(spark):
    from biosd_feature_annotator_spark.operators.funnel import (
        resample_counts,
    )

    df = spark.createDataFrame(
        [("e", _ets(10)), ("e", _ets(20)), ("e", _ets(7300))],
        "k string, ts timestamp",
    )
    got = sorted(
        map(tuple, resample_counts(df, "ts", 3600).collect())
    )
    # hour 1 (3600) has no events but MUST appear with cnt 0
    assert got == [(0, 2), (3600, 0), (7200, 1)]


def test_session_paths_hand_case(spark):
    from biosd_feature_annotator_spark.operators.funnel import session_paths

    rows = [
        # user u: session 1 = a,b,c,d (path keeps first 3); gap; session 2 = a
        (1, "u", _ets(0), "a"), (2, "u", _ets(60), "b"),
        (3, "u", _ets(120), "c"), (4, "u", _ets(180), "d"),
        (5, "u", _ets(10000), "a"),
        # user v: one session a>b
        (6, "v", _ets(0), "a"), (7, "v", _ets(30), "b"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id string, ts timestamp, event_type string"
    )
    got = {
        r.path: r for r in session_paths(df, 1800, 3).collect()
    }
    assert got["a>b>c"].n_sessions == 1 and got["a>b>c"].path_len == 3
    assert got["a"].n_sessions == 1 and got["a"].path_len == 1
    assert got["a>b"].n_sessions == 1 and got["a>b"].path_len == 2


def test_groupwise_ols_hand_case(spark):
    from biosd_feature_annotator_spark.plans.quality import groupwise_ols

    df = spark.createDataFrame(
        # key g: y = 2x + 1 exactly; key h: constant x -> NULL fit
        [("g", 0, 1), ("g", 1, 3), ("g", 2, 5),
         ("h", 4, 7), ("h", 4, 9)],
        "k string, x long, y long",
    )
    got = {r.k: r for r in groupwise_ols(df, ["k"], "x", "y").collect()}
    assert got["g"].slope_micro == 2_000_000
    assert got["g"].intercept_micro == 1_000_000
    assert (got["g"].n, got["g"].sum_x, got["g"].sum_y) == (3, 3, 9)
    assert got["h"].slope_micro is None
    assert got["h"].intercept_micro is None


def test_ohlc_buckets_hand_case(spark):
    from biosd_feature_annotator_spark.operators.funnel import ohlc_buckets

    rows = [
        (1, "k", _ets(10), 5.0), (2, "k", _ets(20), 9.0),
        (3, "k", _ets(30), 1.0), (4, "k", _ets(40), 7.0),
        # tie at the same ts: event_id pins open/close
        (6, "k", _ets(3700), 2.0), (5, "k", _ets(3700), 8.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, k string, ts timestamp, value double"
    )
    got = {
        r.bucket: r
        for r in ohlc_buckets(df, ["k"], "ts", "value", "event_id", 3600)
        .collect()
    }
    b0 = got[0]
    assert (b0.open, b0.high, b0.low, b0.close, b0.n) == (5.0, 9.0, 1.0, 7.0, 4)
    b1 = got[3600]
    assert (b1.open, b1.close) == (8.0, 2.0)   # id 5 first, id 6 last


def test_response_latency_hand_case(spark):
    from biosd_feature_annotator_spark.operators.funnel import (
        response_latency,
    )

    rows = [
        (1, "u", _ets(0), "req"), (2, "u", _ets(30), "resp"),
        (3, "u", _ets(100), "req"), (4, "u", _ets(100), "noise"),
        (5, "u", _ets(160), "resp"),
        (6, "v", _ets(10), "resp"),          # no prior req -> NULL
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id string, ts timestamp, event_type string"
    )
    got = {
        r.event_id: r.latency_sec
        for r in response_latency(df, "req", "resp").collect()
    }
    assert got == {2: 30, 5: 60, 6: None}


def test_categorical_entropy_hand_case(spark):
    import math

    from biosd_feature_annotator_spark.plans.quality import (
        categorical_entropy,
    )

    df = spark.createDataFrame(
        [("g1", "a"), ("g1", "a"), ("g1", "b"), ("g1", "b"),
         ("g2", "a"), ("g2", "a"), ("g2", "a"), ("g2", "a")],
        "g string, v string",
    )
    got = {
        r.g: r for r in categorical_entropy(df, ["g"], "v").collect()
    }
    # g1 uniform over 2 levels -> ln 2; g2 degenerate -> 0
    assert abs(got["g1"].entropy_micro - round(math.log(2) * 1e6)) <= 1
    assert got["g2"].entropy_micro == 0
    # global: a=6/8, b=2/8. KL(g2||global) = ln(8/6)
    assert abs(got["g2"].kl_micro - round(math.log(8 / 6) * 1e6)) <= 1
    assert (got["g1"].n, got["g1"].n_levels) == (4, 2)


def test_lagged_crosscorr_hand_case(spark):
    from biosd_feature_annotator_spark.operators.funnel import (
        lagged_crosscorr,
    )

    day = 86400
    rows = []
    # A fires 2,1,3,1 on days 0-3; B mirrors A exactly one day later
    for d, n in enumerate([2, 1, 3, 1]):
        rows += [("a", _ets(d * day + i)) for i in range(n)]
        rows += [("b", _ets((d + 1) * day + i)) for i in range(n)]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")
    got = {
        r.lag: r
        for r in lagged_crosscorr(df, "a", "b", "ts", "event_type",
                                  day, max_lag=1).collect()
    }
    # at lag +1 (B lags A by one day) the series align perfectly
    assert got[1].corr_micro == 1_000_000
    assert set(got) == {-1, 0, 1}
    assert got[0].n == 5        # dense spine: days 0-4
    assert got[0].corr_micro != 1_000_000


def test_funnel_depths_windowed_hand_case(spark):
    from biosd_feature_annotator_spark.operators.funnel import (
        funnel_depths_windowed,
    )

    rows = [
        # u completes within gaps; v's purchase comes too late
        (1, "u", _ets(0), "signup"), (2, "u", _ets(50), "view"),
        (3, "u", _ets(100), "purchase"),
        (4, "v", _ets(0), "signup"), (5, "v", _ets(50), "view"),
        (6, "v", _ets(5000), "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id string, ts timestamp, event_type string"
    )
    steps = ["signup", "view", "purchase"]
    got = {
        r.user_id: r.depth
        for r in funnel_depths_windowed(df, steps, 200).collect()
    }
    assert got == {"u": 3, "v": 2}
    # unwindowed equivalent: huge gap admits v's late purchase
    loose = {
        r.user_id: r.depth
        for r in funnel_depths_windowed(df, steps, 10_000).collect()
    }
    assert loose == {"u": 3, "v": 3}


def test_seasonality_profile_hand_case(spark):
    from biosd_feature_annotator_spark.operators.funnel import (
        seasonality_profile,
    )

    # 1970-01-01 is a Thursday (dow 3 with Monday=0)
    df = spark.createDataFrame(
        [("e", _ets(30)), ("e", _ets(40)),            # Thu 00h x2
         ("e", _ets(3 * 86400 + 5 * 3600)),           # Sun 05h
         ("e", _ets(4 * 86400))],                     # Mon 00h
        "k string, ts timestamp",
    )
    got = {
        (r.dow, r.hour): r for r in seasonality_profile(df).collect()
    }
    assert got[(3, 0)].n == 2 and got[(6, 5)].n == 1 and got[(0, 0)].n == 1
    assert got[(3, 0)].share_micro == 500_000
    assert got[(3, 0)].lift_micro == 2 * 168 * 1_000_000 // 4


def test_rolling_retention_hand_case(spark):
    from biosd_feature_annotator_spark.operators.funnel import (
        rolling_retention,
    )

    day = 86400
    df = spark.createDataFrame(
        [("u1", _ets(10)), ("u2", _ets(20)),
         ("u1", _ets(day + 5)),                # u1 returns D1
         ("u1", _ets(7 * day)), ("u2", _ets(7 * day))],  # both on D7
        "user_id string, ts timestamp",
    )
    got = {
        (r.day, r.k): r
        for r in rolling_retention(df, [1, 7]).collect()
    }
    d0d1 = got[(0, 1)]
    assert (d0d1.n_active, d0d1.n_retained) == (2, 1)
    assert d0d1.retention_micro == 500_000
    assert got[(0, 7)].n_retained == 2
    assert got[(day, 1)].n_retained == 0


def test_apply_cdc_log_hand_case(spark):
    from biosd_feature_annotator_spark.operators.scd import apply_cdc_log

    snap = spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], "k string, v long"
    )
    ops = spark.createDataFrame(
        [
            ("a", 10, "U", 1), ("a", 99, "U", 2),   # last wins: 99
            ("b", 0, "D", 1),                       # deleted
            ("d", 7, "I", 1),                       # new key
            ("e", 5, "I", 1), ("e", 0, "D", 2),     # insert then delete
        ],
        "k string, v long, op string, ts long",
    )
    got = dict(
        (r.k, r.v)
        for r in apply_cdc_log(snap, ops, ["k"], ["v"],
                               seq_cols=["ts"]).collect()
    )
    assert got == {"a": 99, "c": 3, "d": 7}


def test_apply_cdc_log_null_seq_sorts_lowest(spark):
    from biosd_feature_annotator_spark.operators.scd import apply_cdc_log

    snap = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v long")
    ops = spark.createDataFrame(
        [
            ("a", 10, "U", 1), ("a", 0, "D", None),      # non-NULL seq wins
            ("b", 0, "D", 1), ("b", 20, "U", None),      # ... delete kept
            ("c", 0, "D", None), ("c", 30, "U", None),   # all NULL: U > D
        ],
        "k string, v long, op string, ts long",
    )
    got = dict(
        (r.k, r.v)
        for r in apply_cdc_log(snap, ops, ["k"], ["v"],
                               seq_cols=["ts"]).collect()
    )
    assert got == {"a": 10, "c": 30}


def test_weighted_median_hand_case(spark):
    from biosd_feature_annotator_spark.plans.quality import weighted_median

    df = spark.createDataFrame(
        [("a", 1, 1), ("a", 100, 1), ("a", 3, 1),     # odd: median 3
         ("b", 5, 1), ("b", 7, 1),                    # even: lower = 5
         ("c", 10, 1), ("c", 1000, 9)],               # weight drags up
        "k string, v long, w long",
    )
    unw = {
        r.k: r for r in weighted_median(df, ["k"], "v").collect()
    }
    assert unw["a"].median == 3 and unw["a"].n == 3
    assert unw["b"].median == 5        # lower median at the tie
    wtd = {
        r.k: r for r in weighted_median(df, ["k"], "v", "w").collect()
    }
    assert wtd["c"].median == 1000 and wtd["c"].w_total == 10
