"""Equivalence tests for the r6 optimization rewrites.

Every rewrite this round replaced a plan shape, not a semantic: these
tests pin each rewritten operator against the OLD formulation (inlined
here) on fixtures built to stress the exact risk the rewrite carries —
ties for the argmax aggregations, multi-salt merges for the KMV cut,
duplicate band collisions for the LSH sizing window, and convergence/
labels for the fused-probe connected components.
"""

from __future__ import annotations

import pytest
from conftest import synth_clustered_embeddings
from pyspark.sql import Window
from pyspark.sql import functions as F


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_truth_discovery_matches_window_formulation(spark):
    """min_by argmax == row_number argmax, including vote-count ties
    (several values with the same count per subject → the asc-value
    tie-break must pick identically)."""
    from biosd_feature_annotator_spark.operators.canonicalize import (
        truth_discovery,
    )

    rows = []
    # subjects 0..19; sources 0..6 asserting values that tie on counts
    for subj in range(20):
        for src in range(7):
            rows.append((src, subj, ["A", "B", "C"][(src + subj) % 3]))
        # force a two-way tie on counts for even subjects
        if subj % 2 == 0:
            rows.append((7, subj, "A"))
            rows.append((8, subj, "B"))
    claims = spark.createDataFrame(
        rows, "source long, subject long, value string"
    )

    got = truth_discovery(claims, "source", "subject", "value")

    # OLD formulation (r5): two row_number windows
    c = claims.select("source", "subject", "value").dropDuplicates()
    votes1 = c.groupBy("subject", "value").agg(F.count(F.lit(1)).alias("n"))
    w1 = Window.partitionBy("subject").orderBy(F.desc("n"), F.asc("value"))
    consensus1 = (
        votes1.withColumn("_rk", F.row_number().over(w1))
        .where(F.col("_rk") == 1)
        .select("subject", "value")
    )
    per_source = (
        c.join(consensus1.withColumn("_hit", F.lit(1)),
               ["subject", "value"], "left")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("total"),
             F.sum(F.coalesce("_hit", F.lit(0))).alias("matched"))
    )
    dec = "decimal(38,0)"
    rnum = (F.col("matched") + F.lit(1)).cast(dec) * F.lit(1_000_000).cast(dec)
    rden = (F.col("total") + F.lit(2)).cast(dec)
    rel = per_source.select(
        "source",
        ((rnum - F.pmod(rnum, rden)) / rden).cast("long").alias("rel_micro"),
    )
    votes2 = (
        c.join(rel, "source")
        .groupBy("subject", "value")
        .agg(F.count(F.lit(1)).alias("n_votes"),
             F.sum("rel_micro").alias("weight_micro"))
    )
    w2 = Window.partitionBy("subject").orderBy(
        F.desc("weight_micro"), F.asc("value")
    )
    want = (
        votes2.withColumn("_rk", F.row_number().over(w2))
        .where(F.col("_rk") == 1)
        .select("subject", "value", "n_votes", "weight_micro")
    )
    assert _rows(got) == _rows(want)


def test_dedup_exact_matches_window_formulation(spark):
    from biosd_feature_annotator_spark.operators.dedup import (
        dedup_exact,
        norm_text_col,
    )

    df = spark.createDataFrame(
        [(i, ["a b", "a  b", "c", "C ", "d"][i % 5]) for i in range(40)],
        "doc_id long, text string",
    )
    got = dedup_exact(df, "doc_id", "text")
    norm = norm_text_col(F.col("text"))
    keyed = df.withColumn("_h", F.xxhash64(norm)).withColumn("_m", F.md5(norm))
    w = Window.partitionBy("_h", "_m").orderBy(F.col("doc_id"))
    want = (
        keyed.withColumn("_rn", F.row_number().over(w))
        .where("_rn = 1").drop("_rn", "_h", "_m")
    )
    assert _rows(got) == _rows(want)
    assert got.columns == df.columns  # column order preserved


def test_ohlc_matches_window_formulation_with_ts_ties(spark):
    from biosd_feature_annotator_spark.operators.funnel import _epoch_floor, ohlc_buckets

    rows = []
    for k in range(5):
        for i in range(30):
            # duplicate timestamps: order pinned only by event_id
            rows.append((f"k{k}", 1_700_000_000 + (i // 3) * 60,
                         k * 100 + i, float((i * 7) % 13)))
    ev = spark.createDataFrame(
        rows, "key string, epoch long, event_id long, value double"
    ).select(
        "key", F.col("epoch").cast("timestamp").alias("ts"),
        "event_id", "value",
    )
    got = ohlc_buckets(ev, ["key"], "ts", "value", "event_id", 3600)
    # OLD formulation: first/last row_number windows + conditional aggs
    epoch = _epoch_floor("ts")
    bucket = (epoch - F.pmod(epoch, F.lit(3600))).alias("bucket")
    base = ev.select("key", bucket, F.col("ts").alias("_ts"),
                     F.col("event_id").alias("_oid"),
                     F.col("value").alias("_v"))
    w = Window.partitionBy("key", "bucket")
    ranked = base.select(
        "key", "bucket", "_v",
        F.row_number().over(w.orderBy("_ts", "_oid")).alias("_rf"),
        F.row_number().over(
            w.orderBy(F.desc("_ts"), F.desc("_oid"))).alias("_rl"),
    )
    want = ranked.groupBy("key", "bucket").agg(
        F.max(F.when(F.col("_rf") == 1, F.col("_v"))).alias("open"),
        F.max("_v").alias("high"),
        F.min("_v").alias("low"),
        F.max(F.when(F.col("_rl") == 1, F.col("_v"))).alias("close"),
        F.count(F.lit(1)).alias("n"),
    )
    assert _rows(got) == _rows(want)


def test_kmv_state_matches_single_window_formulation(spark):
    """Two-level salted bottom-k == the naive one-window bottom-k, at a
    k that forces multi-salt merges (k > per-salt survivors)."""
    from biosd_feature_annotator_spark.operators.dedup import hash64
    from biosd_feature_annotator_spark.operators.sketches import kmv_state

    df = spark.createDataFrame(
        [(f"g{i % 3}", f"v{i % 211}") for i in range(2000)],
        "k string, v string",
    )
    for kk in (8, 64, 500):  # 500 > distinct values: sketch = everything
        got = kmv_state(df, ["k"], "v", kk)
        h = hash64(F.col("v"), hasher="md5")
        d = df.select("k", h.alias("h")).dropDuplicates(["k", "h"])
        w = Window.partitionBy("k").orderBy("h")
        want = (
            d.withColumn("r", F.row_number().over(w).cast("long"))
            .where(F.col("r") <= kk)
        )
        assert _rows(got) == _rows(want), f"k={kk}"


def test_lsh_candidates_match_join_sizing_formulation(spark):
    from biosd_feature_annotator_spark.operators.dedup import (
        hash64,
        lsh_candidate_pairs,
        minhash_signatures,
        word_shingles,
    )

    docs = spark.createDataFrame(
        [(i, f"tok{i % 7} tok{(i + 1) % 7} tok{(i + 2) % 5} x y z")
         for i in range(60)],
        "doc_id long, text string",
    )
    sh = word_shingles(docs, "doc_id", "text", 2, hasher="md5")
    sig = minhash_signatures(sh, 16, hasher="md5")
    got = lsh_candidate_pairs(sig, 16, 8, max_bucket=50, hasher="md5")
    # OLD formulation: groupBy sizes + join
    rows_per_band = 2
    banded = sig.select(
        "doc",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                hash64(
                    F.concat_ws(",", *[
                        F.element_at("sig", b * rows_per_band + r + 1)
                        for r in range(rows_per_band)
                    ]),
                    hasher="md5",
                ).alias("bh"),
            )
            for b in range(8)
        ])).alias("bb"),
    ).select("doc", "bb.band", "bb.bh")
    sized = banded.join(
        banded.groupBy("band", "bh").agg(F.count("*").alias("bsz")).where(
            (F.col("bsz") > 1) & (F.col("bsz") <= 50)
        ),
        ["band", "bh"],
    )
    a, b = sized.alias("a"), sized.alias("b")
    want = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bh") == F.col("b.bh"))
               & (F.col("a.doc") < F.col("b.doc")))
        .select(F.col("a.doc").alias("a"), F.col("b.doc").alias("b"))
        .dropDuplicates(["a", "b"])
    )
    assert _rows(got) == _rows(want)


def test_cosine_topk_matches_inline_cosine_formulation(spark):
    """Brute-force top-k with hoisted norms == the inline-cosine form,
    raw doubles compared exactly."""
    from biosd_feature_annotator_spark.operators import similarity as s

    e = synth_clustered_embeddings(spark, 120)
    q = e.where(F.col("vec_id") < 8)
    got = _rows(s.cosine_topk(q, e, k=5))

    qq = q.select(F.col("vec_id").alias("query_id"),
                  F.col("embedding").alias("qv"))
    cc = e.select(F.col("vec_id").alias("neighbor_id"),
                  F.col("embedding").alias("cv"))
    scored = (
        F.broadcast(qq).crossJoin(cc)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", s.cosine("qv", "cv").alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    want = _rows(
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "cos", "rank")
    )
    assert got == want


def test_semantic_dedup_matches_inline_cosine_formulation(spark):
    """The hoisted-norm threshold predicate flags the identical kept
    set — the ≥ comparison sits on raw doubles, so IEEE equality of the
    hoisted form is exactly what keeps the flags stable."""
    from biosd_feature_annotator_spark.operators import similarity as s

    e = synth_clustered_embeddings(spark, 200)
    got = _rows(s.semantic_dedup(e, threshold=0.3, n_cells=8, dim=64))

    cents = s._planes(8, 64, 11)
    base = e.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("v"),
        F.element_at(s.ivf_assign(F.col("embedding"), cents, 1), 1)
        .alias("cell"),
    )
    a = base.select("cell", F.col("id").alias("a"), F.col("v").alias("va"))
    b = base.select("cell", F.col("id").alias("b"), F.col("v").alias("vb"))
    dups = (
        a.join(b, "cell")
        .where(F.col("a") < F.col("b"))
        .where(s.cosine("va", "vb") >= 0.3)
        .select(F.col("b").alias("dup_id"))
        .distinct()
    )
    want = _rows(
        base.join(dups, base["id"] == dups["dup_id"], "left")
        .select("id", "cell", F.col("dup_id").isNull().alias("kept"))
    )
    assert got == want


def test_star_join_preagg_matches_flat_formulation(spark):
    """Per-orderkey revenue pre-aggregation below the star joins == the
    flat join-then-aggregate form: DECIMAL sums are exact and
    order-independent, the lineitem→orders key is 1:1 per lineitem row,
    and the single cast to double stays at the end — identical doubles
    and counts on the real tables, and the same schema (n_items stays a
    non-nullable long, as count(*) is)."""
    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    got = entrymod.q_star_join_revenue(spark, sf)

    l, o, c = (entrymod._t(spark, sf, x)
               for x in ("lineitem", "orders", "customer"))
    n, r = entrymod._t(spark, sf, "nation"), entrymod._t(spark, sf, "region")
    want = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            entrymod._revenue_dec().alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)


def test_rolling_exact_explode_matches_theta_join(spark):
    """The exploded 7-offset equi-join form of the rolling exact-uniques
    verification == the old anchors×presence theta join, on a fixture
    with GAP days (so phantom window buckets exist) — after the
    restriction to observed buckets that the query's inner est-join
    applies."""
    day = 86400
    # observed days 0,1,2,5,6,9 (gaps at 3,4,7,8), users cycling
    rows = [(d * day, u) for d in (0, 1, 2, 5, 6, 9) for u in range(d % 3 + 2)]
    pres = spark.createDataFrame(rows, "pb long, u long").dropDuplicates()

    got_all = (
        pres.select(
            F.explode(
                F.array(*[F.col("pb") + F.lit(i * day) for i in range(7)])
            ).alias("wb"),
            "u",
        )
        .groupBy("wb")
        .agg(F.count_distinct("u").alias("exact_users"))
    )
    anchors = pres.select(F.col("pb").alias("wb")).dropDuplicates()
    # restrict to observed buckets, as the query's inner join with the
    # HLL est side (whose buckets are exactly the observed days) does
    got = _rows(got_all.join(anchors.dropDuplicates(), "wb"))

    want = _rows(
        anchors.join(
            pres,
            (F.col("pb") <= F.col("wb"))
            & (F.col("pb") >= F.col("wb") - F.lit(6 * day)),
        )
        .groupBy("wb")
        .agg(F.count_distinct("u").alias("exact_users"))
    )
    assert got == want


@pytest.mark.parametrize("shape", ["chain", "stars", "mixed"])
def test_cc_fused_probe_matches_bruteforce(spark, shape):
    """The fused-seed/fused-probe CC returns exactly the min-id
    component labels (checked against a Python union-find) on shapes
    that stress round counts: a long chain (pointer jumping), star
    forests (round-1 convergence) and a mix."""
    from biosd_feature_annotator_spark.operators.canonicalize import (
        connected_components,
    )

    if shape == "chain":
        edges = [(i, i + 1) for i in range(60)]
    elif shape == "stars":
        edges = [(c * 100, c * 100 + i) for c in range(5) for i in range(1, 8)]
    else:
        edges = [(i, i + 1) for i in range(20)] + \
                [(500, 500 + i) for i in range(1, 6)] + [(19, 500)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {(r.node, r.comp) for r in connected_components(df, max_iter=32).collect()}

    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for s, d in edges:
        union(s, d)
    want = {(n, find(n)) for n in parent}
    assert got == want
