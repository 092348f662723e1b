"""Hand cases for the similarity operators. The centroid and plane
kernels (PQ codes and tables, IVF cells, LSH signatures) are checked
against their DuckDB twins by tests/test_r6_queue.py; the tie-break
below needs bit-equal similarities, which the test data does not give."""

from __future__ import annotations

from pyspark.sql import functions as F

from biosd_feature_annotator_spark.operators import similarity as s


def test_ivf_cells_tie_break_higher_cell(spark):
    """Duplicate centroids force bit-equal sims: the HIGHER cell id must
    come first (the order the oracles replay)."""
    cents = s._planes(4, 8, 3)
    cents[2] = list(cents[0])  # cells 0 and 2 identical → sims tie
    df = spark.range(5).select(
        F.array(*[(F.col("id") + i).cast("float") for i in range(8)]).alias("v")
    )
    rows = [list(r.c) for r in df.select(
        s.ivf_assign(F.col("v"), cents, 4).alias("c")).collect()]
    assert len(rows) == 5
    for row in rows:
        assert sorted(row) == [0, 1, 2, 3]
        assert row.index(2) < row.index(0)  # higher cell id wins the tie


def test_eval_topk_hand_case(spark):
    from biosd_feature_annotator_spark.operators.similarity import eval_topk

    truth = spark.createDataFrame(
        [("q1", "a", 1), ("q1", "b", 2), ("q1", "c", 3),
         ("q2", "x", 1), ("q2", "y", 2),
         ("q3", "m", 1)],
        "query_id string, neighbor_id string, rank long",
    )
    pred = spark.createDataFrame(
        [("q1", "b", 1), ("q1", "z", 2), ("q1", "c", 3),
         ("q1", "a", 4),              # rank 4 > k: must NOT count
         ("q2", "u", 1), ("q2", "v", 2),
         ("q4", "w", 1)],             # pred-only query: ignored
        "query_id string, neighbor_id string, rank long",
    )
    got = {r.query: r for r in eval_topk(pred, truth, k=3).collect()}
    assert set(got) == {"q1", "q2", "q3"}
    # q1: hits b(rank1), c(rank3); a excluded by k-truncation
    assert got["q1"].n_hit == 2 and got["q1"].n_truth == 3
    assert got["q1"].recall_micro == 666_666
    assert got["q1"].mrr_micro == 1_000_000        # best hit at rank 1
    # q2: no overlap
    assert got["q2"].n_hit == 0 and got["q2"].recall_micro == 0
    assert got["q2"].mrr_micro == 0
    # q3: truth query with no predictions at all still gets a row
    assert got["q3"].n_hit == 0 and got["q3"].n_truth == 1


def test_mutual_best_match_hand_case(spark):
    from biosd_feature_annotator_spark.operators.similarity import (
        mutual_best_match,
    )

    pairs = spark.createDataFrame(
        [
            # c1's best is s1 (9) and s1's best is c1: mutual
            ("c1", "s1", 9), ("c1", "s2", 5),
            # c2's best is s1 (8) but s1 prefers c1: NOT mutual.
            # s2's best is c2 (7) but c2 prefers s1: NOT mutual either
            # — the hub-pollution case reciprocity filters out.
            ("c2", "s1", 8),
            ("c2", "s2", 7),
            # c5<->s5 is an isolated mutual pair
            ("c5", "s5", 1),
            # tie on score for c3: lowest partner id (s3) wins; s3
            # reciprocates c3 -> mutual at 4
            ("c3", "s3", 4), ("c3", "s4", 4), ("c4", "s3", 2),
        ],
        "query_id string, neighbor_id string, score long",
    )
    got = {(r.left, r.right): r.score
           for r in mutual_best_match(pairs).collect()}
    assert got == {("c1", "s1"): 9, ("c3", "s3"): 4, ("c5", "s5"): 1}


def test_time_weighted_avg_hand_case(spark):
    from biosd_feature_annotator_spark.operators.scd import (
        time_weighted_avg,
    )

    iv = spark.createDataFrame(
        [
            # value 100 for 9s, value 10 for 1s: twa = 910/10 = 91
            ("a", 0, 9, 100), ("a", 9, 10, 10),
            # negative value, floor not truncation: -5*3/3 exact, then
            # (-5*3 + 4*1)/4s = -11/4 = -2.75 -> -2750000 micro exact
            ("b", 0, 3, -5), ("b", 3, 4, 4),
        ],
        "k string, effective_from long, effective_to long, v long",
    )
    got = {r.k: r for r in
           time_weighted_avg(iv, ["k"], "v").collect()}
    assert got["a"].wsum == 910 and got["a"].dur_total == 10
    assert got["a"].twa_micro == 91_000_000
    assert got["b"].wsum == -11 and got["b"].dur_total == 4
    assert got["b"].twa_micro == -2_750_000


def test_int8_quantize_hand_case(spark):
    from biosd_feature_annotator_spark.operators.similarity import (
        int8_quantize,
    )

    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25]), (2, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    got = {r.vec_id: r for r in int8_quantize(df).collect()}
    r1 = got[1]
    assert r1.scale == 1.0
    assert list(r1.codes) == [127, -64, 32]   # round(-63.5) -> -64 in both engines
    # reconstruction error bounded by scale/(2*127)
    assert r1.max_err_micro <= 1_000_000 // 127
    z = got[2]
    assert list(z.codes) == [0, 0, 0]
    assert z.mse_micro == 0 and z.max_err_micro == 0 and z.scale == 0.0
