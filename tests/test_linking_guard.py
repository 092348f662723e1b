"""Round-2 guards: (1) the zero-shuffle fast path must emit exactly the
triples assemble_triples' global dropDuplicates([subj, pred, obj]) would —
including the '72 kg and 72 cm' case where two value mentions share the
triple identity but differ in unit; (2) a multi-candidate dictionary must
never reach the unranked fast path (is_functional guard), and the ranked
W1 window must pick the max-conf / min-term_id winner."""

from __future__ import annotations

from pyspark.sql import functions as F

from biosd_feature_annotator_spark.operators.extract import extract_mentions
from biosd_feature_annotator_spark.operators.link import assemble_triples
from biosd_feature_annotator_spark.plans.pipeline import annotate
from biosd_feature_annotator_spark.sources.lexicon import Lexicon, lexicon_df


def _transcripts(spark, texts):
    rows = [
        (f"c{i}", 0, "user", t, None, 1704067200 + i) for i, t in enumerate(texts)
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts_s long"
    )
    return df.select(
        "conv_id", "turn_idx", "role", "text", "tool",
        F.timestamp_seconds("ts_s").alias("ts"),
    )


def _triple_multiset(df):
    return sorted(
        (r.subj, r.pred, r.obj) for r in df.select("subj", "pred", "obj").collect()
    )


def test_fast_path_matches_assemble_triples(spark, lexicon):
    """Same value with two different units ('72 kg and 72 cm') collapses to
    ONE (subj, hasNumber, num:72) triple on both paths; an age-unit twin
    ('5 years and 5 days' in age context) collapses under hasAge; distinct
    predicates for the same obj survive."""
    tr = _transcripts(
        spark,
        [
            "weighed 72 kg and measured 72 cm today",
            "subject aged 5 years and 5 days since admission",
            "aged 7 years but the score was 7 points",  # hasAge + hasNumber: both kept
            "plain filler with no values at all",
        ],
    )
    fast = annotate(spark, tr, lexicon, build_graph=False, cache_mentions=False)["triples"]
    generic = assemble_triples(
        tr.repartition(4, "conv_id"),
        extract_mentions(tr.repartition(4, "conv_id"), lexicon),
        lexicon_df(spark, lexicon),
    )
    a, b = _triple_multiset(fast), _triple_multiset(generic)
    assert a == b, f"paths diverge:\nfast={a}\ngeneric={b}"
    # the collapse actually happened (not just both paths wrong the same way)
    num72 = [t for t in a if t[1] == "hasNumber" and t[2] == "num:72"]
    assert len(num72) == 1
    age5 = [t for t in a if t[0] == "c1:0" and t[1] == "hasAge" and t[2] == "num:5"]
    assert len(age5) == 1
    c2 = {(t[1], t[2]) for t in a if t[0] == "c2:0"}
    assert ("hasAge", "num:7") in c2 and ("hasNumber", "num:7") in c2


def _multi_candidate_lexicon():
    return Lexicon(
        terms=[
            {"term_id": "T_A", "iri": "t://a", "label": "beta blocker",
             "synonyms": [], "pred": "hasDrug"},
            {"term_id": "T_B", "iri": "t://b", "label": "beta blocker",
             "synonyms": [], "pred": "hasDrug"},
        ]
    )


def test_is_functional_flags_shared_labels(lexicon):
    assert lexicon.is_functional()
    assert not _multi_candidate_lexicon().is_functional()


def _terms_per_match_norm(spark, lex):
    return {
        r.match_norm: r.n
        for r in lexicon_df(spark, lex)
        .groupBy("match_norm")
        .agg(F.countDistinct("term_id").alias("n"))
        .collect()
    }


def test_functional_lexicon_has_one_term_per_match_norm(spark, lexicon, synonym_lexicon):
    """The invariant canonicalize's rollup by term relies on: a
    functional dictionary maps every match_norm to exactly one term_id
    across the label, synonym and tokens kinds — each surface belongs to
    exactly one star of the linking graph."""
    for lex in (lexicon, synonym_lexicon):
        assert lex.is_functional()
        fan = _terms_per_match_norm(spark, lex)
        assert fan and set(fan.values()) == {1}, fan
    # the synonym-heavy fixture really mixes kinds on one match_norm: the
    # hot term's label is both a 'label' and a 'tokens' join key
    kinds = {
        (r.match_kind, r.term_id)
        for r in lexicon_df(spark, synonym_lexicon)
        .where("match_norm = 'homo sapiens'").collect()
    }
    assert kinds == {("label", "T_HS"), ("tokens", "T_HS")}


def test_shared_normalized_multitoken_label_is_not_functional(spark):
    """Two terms whose multi-token labels only normalize alike: the
    'tokens' key fans out to both terms, and is_functional says so."""
    lex = Lexicon(terms=[
        {"term_id": "T_A", "label": "Beta  Blocker", "synonyms": [], "pred": "hasDrug"},
        {"term_id": "T_B", "label": "beta blocker", "synonyms": [], "pred": "hasDrug"},
    ])
    assert not lex.is_functional()
    assert _terms_per_match_norm(spark, lex)["beta blocker"] == 2


def test_nonfunctional_lexicon_never_emits_duplicates(spark):
    """annotate() must auto-upgrade to ranked linking for a dictionary with
    two terms sharing a label: no duplicate (subj, pred, obj) rows, and the
    exact-label HIGH link (first term, per first-wins) beats the fanned-out
    MEDIUM candidates."""
    lex = _multi_candidate_lexicon()
    tr = _transcripts(spark, ["patient on beta blocker since monday"])
    triples = annotate(spark, tr, lex, build_graph=False, cache_mentions=False)["triples"]
    rows = triples.where("pred = 'hasDrug'").collect()
    assert len(rows) == 1
    assert rows[0].obj == "T_A" and rows[0].confidence == "HIGH"
    dups = (
        triples.groupBy("subj", "pred", "obj").count().where("count > 1").count()
    )
    assert dups == 0


def test_ranked_w1_picks_min_term_id_on_conf_tie(spark):
    """Tokens-only context ('beta ... blocker' split apart): both terms are
    MEDIUM 0.7 candidates; W1 must keep exactly one, tie-broken on term_id."""
    lex = _multi_candidate_lexicon()
    tr = _transcripts(spark, ["beta therapy blocker administered"])
    triples = annotate(
        spark, tr, lex, build_graph=False, cache_mentions=False, ranked_linking=True
    )["triples"]
    rows = triples.where("pred = 'hasDrug'").collect()
    assert len(rows) == 1
    assert rows[0].obj == "T_A" and rows[0].confidence == "MEDIUM"


def test_oversized_dictionary_degrades_to_shuffle_join(spark, lexicon):
    """r3: link_entities must DROP the broadcast hint when the dictionary's
    estimated size exceeds autoBroadcastJoinThreshold — the planner then
    picks a shuffle (sort-merge) join instead of force-broadcasting a
    dictionary that would not fit executor memory. Results identical."""
    from biosd_feature_annotator_spark.operators.link import link_entities

    t = _transcripts(spark, ["Homo sapiens sample", "human donor aged 30 years"])
    mentions = extract_mentions(t, lexicon)
    lex_df = lexicon_df(spark, lexicon)

    def join_plan(df) -> str:
        # collect() executes THIS frame's own QueryExecution, finalizing
        # its AQE plan (count() would plan and execute a different one)
        df.collect()
        return df._jdf.queryExecution().executedPlan().toString()

    threshold0 = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # dictionary fits (default threshold) -> broadcast join
        plan_small = join_plan(link_entities(mentions, lex_df))
        assert "BroadcastHashJoin" in plan_small

        # dictionary "oversized" (threshold smaller than its plan size)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64")
        degraded = link_entities(mentions, lex_df)
        plan_big = join_plan(degraded)
        assert "BroadcastHashJoin" not in plan_big
        assert "SortMergeJoin" in plan_big or "ShuffledHashJoin" in plan_big

        # identical results on both paths
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold0)
        want = link_entities(mentions, lex_df)
        assert sorted(map(tuple, degraded.collect())) == sorted(
            map(tuple, want.collect())
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold0)


def test_broadcast_disabled_via_negative_threshold_is_honored(spark, lexicon):
    """r3 ADVICE: autoBroadcastJoinThreshold=-1 is the standard opt-out
    from broadcasting (e.g. to stop broadcast OOM); the size-aware guard
    must treat it as 'never hint', not fall through to a forced
    broadcast."""
    from biosd_feature_annotator_spark.operators.link import link_entities

    t = _transcripts(spark, ["Homo sapiens sample"])
    mentions = extract_mentions(t, lexicon)
    lex_df = lexicon_df(spark, lexicon)

    threshold0 = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = link_entities(mentions, lex_df)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold0)


def test_alias_priors_hand_case(spark):
    from pyspark.sql import functions as F  # noqa: F401
    from biosd_feature_annotator_spark.operators.link import alias_priors

    df = spark.createDataFrame(
        [("mouse", "MUS"), ("mouse", "MUS"), ("mouse", "DEVICE"),
         ("human", "HOMO")],
        "surface string, entity string",
    )
    got = {
        (r.surface, r.entity): r
        for r in alias_priors(df, "surface", "entity").collect()
    }
    m = got[("mouse", "MUS")]
    assert (m.n, m.n_surface, m.n_candidates, m.rank) == (2, 3, 2, 1)
    assert m.prior_micro == 600_000          # (2+1)e6 // (3+2)
    d = got[("mouse", "DEVICE")]
    assert d.rank == 2 and d.prior_micro == 400_000
    h = got[("human", "HOMO")]
    assert h.prior_micro == 1_000_000        # (1+1)e6 // (1+1)
