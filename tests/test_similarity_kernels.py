"""Arrow vs Catalyst kernel parity for the centroid-literal operators.

The arrow kernels exist because the catalyst HOF forms cost ~3-8 s of
fixed driver-side plan/codegen time per query (measured flat across
500→8000 input rows). They are only admissible if BIT-identical: the
DuckDB oracles replay the catalyst math, so any divergence — summation
order, cast, tie-break — would flip the driver's value hash. These
tests compare the two kernels on the real driver parquet, where any
IEEE divergence in 2000 × 64 float32 coordinates would surface."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from biosd_feature_annotator_spark.operators import similarity as s

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_pq_codes_bit_identical(spark, emb):
    cbs = s.pq_seed_codebooks(m=4, k=16, dim=64)
    a = s.pq_encode(emb, cbs, kernel="arrow")
    c = s.pq_encode(emb, cbs, kernel="catalyst")
    ra = {r.id: list(r.codes) for r in a.collect()}
    rc = {r.id: list(r.codes) for r in c.collect()}
    assert ra == rc


def test_pq_dtab_bit_identical(spark, emb):
    cbs = s.pq_seed_codebooks(m=4, k=16, dim=64)
    q = emb.where(F.col("vec_id") < 50)
    da = {r.vec_id: list(r.d) for r in q.select(
        "vec_id", s._pq_dtab_col(F.col("embedding"), cbs, "arrow").alias("d")
    ).collect()}
    dc = {r.vec_id: list(r.d) for r in q.select(
        "vec_id", s._pq_dtab_col(F.col("embedding"), cbs, "catalyst").alias("d")
    ).collect()}
    assert set(da) == set(dc)
    for k in da:
        # bit-identity, not approx: the oracle hash compares exact reprs
        assert da[k] == dc[k]


def test_ivf_cells_bit_identical_including_probe_order(spark, emb):
    cents = s._planes(8, 64, 11)
    for n_probe in (1, 2, 3):
        a = emb.select(
            "vec_id",
            s._cells_col(F.col("embedding"), cents, n_probe, "arrow").alias("c"),
        )
        c = emb.select(
            "vec_id",
            s._cells_col(F.col("embedding"), cents, n_probe, "catalyst").alias("c"),
        )
        ra = {r.vec_id: list(r.c) for r in a.collect()}
        rc = {r.vec_id: list(r.c) for r in c.collect()}
        assert ra == rc, f"n_probe={n_probe}"


def test_ivf_cells_tie_break_higher_cell(spark):
    """Duplicate centroids force bit-equal sims: both kernels must
    return the HIGHER cell first (the reverse(array_sort) contract)."""
    cents = s._planes(4, 8, 3)
    cents[2] = list(cents[0])  # cells 0 and 2 identical → sims tie
    df = spark.range(5).select(
        F.array(*[(F.col("id") + i).cast("float") for i in range(8)]).alias("v")
    )
    a = [list(r.c) for r in df.select(
        s._cells_col(F.col("v"), cents, 4, "arrow").alias("c")).collect()]
    c = [list(r.c) for r in df.select(
        s._cells_col(F.col("v"), cents, 4, "catalyst").alias("c")).collect()]
    assert a == c
    for row in a:
        assert row.index(2) < row.index(0)  # higher cell id wins the tie


def test_ivfpq_query_identical_across_kernels(spark, emb):
    cbs = s.pq_seed_codebooks(m=4, k=16, dim=64)
    q = emb.where(F.col("vec_id") < 20)
    a = s.ivfpq_adc_topk(q, emb, cbs, k=3, n_cells=8, n_probe=2, dim=64,
                         kernel="arrow")
    c = s.ivfpq_adc_topk(q, emb, cbs, k=3, n_cells=8, n_probe=2, dim=64,
                         kernel="catalyst")
    assert _rows(a) == _rows(c)


def test_lsh_signature_bit_identical(spark, emb):
    planes = s._planes(16, 64, 7)
    a = {r.vec_id: r.sig for r in emb.select(
        "vec_id", s.lsh_signature(F.col("embedding"), planes, "arrow").alias("sig")
    ).collect()}
    c = {r.vec_id: r.sig for r in emb.select(
        "vec_id", s.lsh_signature(F.col("embedding"), planes, "catalyst").alias("sig")
    ).collect()}
    assert a == c


def test_lsh_topk_identical_across_kernels(spark, emb):
    q = emb.where(F.col("vec_id") < 20)
    a = s.lsh_cosine_topk(q, emb, k=3, n_planes=16, bands=4, dim=64,
                          kernel="arrow")
    c = s.lsh_cosine_topk(q, emb, k=3, n_planes=16, bands=4, dim=64,
                          kernel="catalyst")
    assert _rows(a) == _rows(c)


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
