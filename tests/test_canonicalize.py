"""A2: connected components and hot-entity canonicalization."""

from __future__ import annotations

from pyspark.sql import functions as F

from biosd_feature_annotator_spark.operators.canonicalize import connected_components


def comps(spark, edges):
    df = spark.createDataFrame(edges, "src string, dst string")
    rows = connected_components(df, max_iter=10).collect()
    out = {}
    for r in rows:
        out.setdefault(r.comp, set()).add(r.node)
    return sorted(out.values(), key=sorted)


def test_cc_two_components(spark):
    got = comps(spark, [("a", "b"), ("b", "c"), ("x", "y")])
    assert got == [{"a", "b", "c"}, {"x", "y"}]


def test_cc_chain_needs_iterations(spark):
    # a long path graph exercises multi-round convergence (diameter > 2)
    n = 12
    edges = [(f"n{i:02d}", f"n{i+1:02d}") for i in range(n)]
    got = comps(spark, edges)
    assert len(got) == 1 and len(got[0]) == n + 1


def test_cc_star_skew(spark):
    # hot hub: 200 spokes — the hot-entity skew case
    edges = [("hub", f"s{i:03d}") for i in range(200)]
    got = comps(spark, edges)
    assert len(got) == 1 and len(got[0]) == 201


# one hot term (T_HS) reached through its label, three synonyms and a
# tokens match ('sapiens ... homo'), next to lighter terms whose surfaces
# collide with it in the synonym_lexicon fixture
_HOT_TERM_TEXTS = [
    "the donor is Homo sapiens",
    "a human donor",
    "H. sapiens tissue sample",
    "the man was aged 40 years",
    "sapiens of the genus homo",
    "human and mouse cells",
    "a house mouse and a field mouse",
    "Mus musculus strain, one person enrolled",
    "musculus mus in reverse",
    "homo sapiens again, then a human",
]


def _hot_term_transcripts(spark):
    rows = [(f"h{i:02d}", t % 3, "user", text, None, 1704067200 + 10 * i + t)
            for i, text in enumerate(_HOT_TERM_TEXTS) for t in range(3)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts_s long")
    return df.select("conv_id", "turn_idx", "role", "text", "tool",
                     F.timestamp_seconds("ts_s").alias("ts"))


def _fast_and_general_graphs(spark, lex, tr):
    """canonicalize's functional path (fixed_rounds=1, the rollup by term)
    and the general CC loop on the same linked mentions, asserted equal:
    nodes rows, edges rows and both tables' dtypes. Returns the nodes
    rows keyed by node_id."""
    from biosd_feature_annotator_spark.operators.canonicalize import canonicalize
    from biosd_feature_annotator_spark.operators.extract import extract_mentions
    from biosd_feature_annotator_spark.operators.link import link_entities
    from biosd_feature_annotator_spark.sources.lexicon import lexicon_df

    linked = link_entities(extract_mentions(tr, lex), lexicon_df(spark, lex))
    linked = linked.persist()
    fast_nodes, fast_edges = canonicalize(linked, fixed_rounds=1)
    loop_nodes, loop_edges = canonicalize(linked, fixed_rounds=None)
    assert fast_nodes.dtypes == loop_nodes.dtypes
    assert fast_edges.dtypes == loop_edges.dtypes
    nkey = lambda r: (r.node_id, r.node_kind, r.canonical_label,
                      tuple(r.aliases), r.n_mentions)  # noqa: E731
    fast = sorted(map(nkey, fast_nodes.collect()))
    assert fast == sorted(map(nkey, loop_nodes.collect()))
    assert sorted(map(tuple, fast_edges.collect())) == sorted(
        map(tuple, loop_edges.collect()))
    linked.unpersist()
    return {r[0]: r for r in fast}


def test_pipeline_graph_fast_path_matches_general(spark, lexicon):
    """Golden corpus: the rollup by term == the general CC loop."""
    from biosd_feature_annotator_spark.synth import golden_transcripts

    nodes = _fast_and_general_graphs(spark, lexicon, golden_transcripts(spark))
    assert nodes and all(r[1] == "entity" for r in nodes.values())


def test_pipeline_graph_fast_path_matches_general_hot_term(spark, synonym_lexicon):
    """One hot term with many surfaces (label, synonyms, a tokens match on
    the label's own match_norm): alias order and n_mentions sums agree
    between the rollup and the CC loop, and hold the expected values."""
    nodes = _fast_and_general_graphs(
        spark, synonym_lexicon, _hot_term_transcripts(spark))
    _, kind, label, aliases, n = nodes["T_HS"]
    assert (kind, label) == ("entity", "homo sapiens")
    assert aliases == ("h. sapiens", "homo sapiens", "human", "man")
    assert n == 3 * 7  # seven texts name it, each repeated in 3 turns


def test_functional_graph_plan_launches_no_job(spark, lexicon):
    """annotate(build_graph=True) on a functional dictionary only builds
    lazy plans: the graph is a rollup by term, so no component-labelling
    checkpoint job runs before the caller's first action."""
    from biosd_feature_annotator_spark.plans.pipeline import annotate
    from biosd_feature_annotator_spark.synth import golden_transcripts

    sc = spark.sparkContext
    tr = golden_transcripts(spark)
    sc.setJobGroup("annotate-plan-only", "annotate() builds plans only")
    try:
        out = annotate(spark, tr, lexicon, cache_mentions=False)
        jobs = list(sc.statusTracker().getJobIdsForGroup("annotate-plan-only"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert {"nodes", "edges"} <= set(out)
    assert jobs == []


def test_fs_weights_learn_field_reliability_and_separate(spark):
    """Fellegi-Sunter weights trained on a deterministic labeled-pair
    fixture: the reliable field (name agreement) must earn a much
    larger agree-weight than the noisy field (year agreement, which
    matches and non-matches share half the time), and held-out scoring
    must separate matches from non-matches at threshold 0."""
    import hashlib

    from biosd_feature_annotator_spark.operators.canonicalize import (
        fs_score,
        train_fs_weights,
    )

    def h(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    rows = []
    for i in range(400):
        match = i % 2 == 0
        # matches: names agree 95%, cities agree 90%, years agree 50%
        # non-matches: names agree 5%, cities agree 20%, years agree 50%
        name_ag = (h(f"n{i}") % 100) < (95 if match else 5)
        city_ag = (h(f"c{i}") % 100) < (90 if match else 20)
        year_ag = (h(f"y{i}") % 100) < 50
        rows.append((i, match, name_ag, city_ag, year_ag))
    pairs = spark.createDataFrame(
        rows, "pair_id long, lbl boolean, agree_name boolean, "
              "agree_city boolean, agree_year boolean")
    train = pairs.where("pair_id % 10 < 7")
    test = pairs.where("pair_id % 10 >= 7")
    w = train_fs_weights(train, ["agree_name", "agree_city", "agree_year"], "lbl")
    # reliable field dominates; the coin-flip field carries ~no weight
    assert w["agree_name"][0] > w["agree_city"][0] > abs(w["agree_year"][0])
    assert w["agree_name"][1] < 0 < w["agree_name"][0]
    scored = fs_score(test, w)
    ok = scored.where("is_match = lbl").count() / scored.count()
    assert ok >= 0.9, ok
    # determinism: weights are a pure function of the counts
    assert w == train_fs_weights(train.repartition(13),
                                 ["agree_name", "agree_city", "agree_year"], "lbl")


def test_incremental_components_matches_full_recompute(spark):
    from biosd_feature_annotator_spark.operators.canonicalize import (
        incremental_components,
    )

    # old graph: {a,b,c} labeled a; {x,y} labeled x. The delta exercises
    # every maintenance case at once: c-x merges the two old components,
    # y-z extends one, p-q is a brand-new delta-only component, and
    # 0m-b attaches a NEW node that becomes the global min label.
    old = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "src string, dst string"
    )
    delta = spark.createDataFrame(
        [("c", "x"), ("y", "z"), ("p", "q"), ("0m", "b")],
        "src string, dst string",
    )
    assign = connected_components(old, max_iter=10)
    inc = {(r.node, r.comp)
           for r in incremental_components(assign, delta, max_iter=10).collect()}
    full = {(r.node, r.comp)
            for r in connected_components(
                old.unionByName(delta), max_iter=10).collect()}
    assert inc == full
    assert {c for _, c in inc} == {"0m", "p"}


def test_incremental_components_untouched_rows_stable(spark):
    from biosd_feature_annotator_spark.operators.canonicalize import (
        incremental_components,
    )

    old = spark.createDataFrame(
        [("a", "b"), ("x", "y")], "src string, dst string"
    )
    delta = spark.createDataFrame([("p", "q")], "src string, dst string")
    assign = connected_components(old, max_iter=10)
    out = {(r.node, r.comp)
           for r in incremental_components(assign, delta, max_iter=10).collect()}
    # untouched components keep their labels verbatim; the delta-only
    # component is admitted alongside them
    assert out == {("a", "a"), ("b", "a"), ("x", "x"), ("y", "x"),
                   ("p", "p"), ("q", "p")}


# ------------------------------------------- r5: sorted-neighborhood blocking


def _snb_bruteforce(rows, w):
    """Naive single-machine reference: global (key, id) sort + window."""
    s = sorted(rows, key=lambda r: (r[1], r[0]))
    out = set()
    for i in range(len(s)):
        for j in range(i + 1, min(i + w, len(s))):
            out.add((s[i][0], s[j][0], j - i))
    return out


def test_snb_matches_bruteforce_mixed_buckets(spark):
    from biosd_feature_annotator_spark.operators.canonicalize import (
        sorted_neighborhood_pairs,
    )

    rows = [(i, f"{chr(97 + (i * 11) % 5)}{chr(97 + (i * 7) % 26)}x{i:03d}")
            for i in range(60)]
    df = spark.createDataFrame(rows, "id long, key string")
    got = {(r.id_l, r.id_r, r.dist)
           for r in sorted_neighborhood_pairs(df, "id", "key", w=4).collect()}
    assert got == _snb_bruteforce(rows, 4)


def test_snb_pairs_span_multiple_tiny_buckets(spark):
    from biosd_feature_annotator_spark.operators.canonicalize import (
        sorted_neighborhood_pairs,
    )

    # every bucket holds ONE row: all pairs are cross-bucket, and the
    # dist-2 pairs span an intermediate bucket — the case a
    # consecutive-bucket-only boundary join would miss
    rows = [(1, "a"), (2, "b"), (3, "c"), (4, "d")]
    df = spark.createDataFrame(rows, "id long, key string")
    got = {(r.id_l, r.id_r, r.dist)
           for r in sorted_neighborhood_pairs(df, "id", "key", w=3).collect()}
    assert got == {(1, 2, 1), (2, 3, 1), (3, 4, 1), (1, 3, 2), (2, 4, 2)}


def test_snb_catches_cross_block_near_miss(spark):
    from biosd_feature_annotator_spark.operators.canonicalize import (
        sorted_neighborhood_pairs,
    )

    # smith/smyth straddle a first-2-chars equi-block ("sm" vs "sm" —
    # use a harder split: smithers/snithers differ in char 2); the sort
    # places them adjacently, so SNB pairs them while an equi-block on
    # the prefix cannot
    rows = [(1, "smithers"), (2, "snithers"), (3, "zzz")]
    df = spark.createDataFrame(rows, "id long, key string")
    got = {(r.id_l, r.id_r) for r in
           sorted_neighborhood_pairs(df, "id", "key", w=2).collect()}
    assert (1, 2) in got


def test_snb_deterministic_and_null_keys_dropped(spark):
    from biosd_feature_annotator_spark.operators.canonicalize import (
        sorted_neighborhood_pairs,
    )

    rows = [(i, f"{chr(97 + i % 7)}k{(i * 13) % 40:02d}") for i in range(100)]
    df = spark.createDataFrame(rows + [(999, None)], "id long, key string")
    one = sorted(tuple(r) for r in
                 sorted_neighborhood_pairs(df, "id", "key", w=5).collect())
    two = sorted(tuple(r) for r in sorted_neighborhood_pairs(
        df.repartition(19), "id", "key", w=5).collect())
    assert one == two
    assert not any(999 in (a, b) for a, b, _ in one)
    assert set(one) == _snb_bruteforce(rows, 5)


def test_truth_discovery_hand_case(spark):
    from biosd_feature_annotator_spark.operators.canonicalize import (
        truth_discovery,
    )

    # s1, s2 reliable (agree with majority everywhere); s3 contrarian.
    # subject B is a 1-1 tie in round 1 -> value-asc tie-break, then
    # round-2 weights break it the same way here.
    claims = spark.createDataFrame(
        [
            ("s1", "A", "x"), ("s2", "A", "x"), ("s3", "A", "y"),
            ("s1", "B", "p"), ("s3", "B", "q"),
            ("s1", "A", "x"),  # duplicate claim counts once
        ],
        "src string, subj string, val string",
    )
    got = {
        r.subject: r
        for r in truth_discovery(claims, "src", "subj", "val").collect()
    }
    assert got["A"].value == "x" and got["A"].n_votes == 2
    assert got["B"].value == "p"
    # reliabilities: s1 2/2 -> (2+1)e6//(2+2)=750000; s2 1/1 ->
    # (1+1)e6//(1+2)=666666; s3 0/2 -> (0+1)e6//(2+2)=250000
    assert got["A"].weight_micro == 750_000 + 666_666
    assert got["B"].weight_micro == 750_000
