"""Per-conversation profiles (operators/context) + entity stats."""

from __future__ import annotations

from biosd_feature_annotator_spark.operators.canonicalize import entity_stats
from biosd_feature_annotator_spark.synth import golden_transcripts


def test_entity_stats(spark, lexicon):
    from biosd_feature_annotator_spark.plans.pipeline import annotate

    triples = annotate(spark, golden_transcripts(spark), lexicon, build_graph=False)["triples"]
    stats = {r.obj: r for r in entity_stats(triples).collect()}
    human = stats["NCBITaxon_9606"]
    assert human.n_mentions >= 100  # g39 corpus
    assert 0 < human.approx_subjects <= human.n_mentions * 1.1
    assert human.n_preds == 1


def _cts(s):
    import datetime as dt

    return dt.datetime.fromtimestamp(s, dt.timezone.utc).replace(tzinfo=None)


def test_conversation_stats_hand_case(spark):
    from biosd_feature_annotator_spark.operators.context import (
        conversation_stats,
    )

    rows = [
        ("c1", 0, "user", "hi", None, _cts(0)),
        ("c1", 1, "assistant", "hello!", None, _cts(10)),
        ("c1", 2, "assistant", "using tool", "search", _cts(30)),
        ("c2", 0, "user", "solo", None, _cts(0)),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    got = {r.conv_id: r for r in conversation_stats(df).collect()}
    c1 = got["c1"]
    assert (c1.n_turns, c1.n_user, c1.n_assistant) == (3, 1, 2)
    assert (c1.n_tool_role, c1.n_tool_calls) == (0, 1)
    assert c1.span_sec == 30 and c1.mean_gap_micro == 15_000_000
    assert c1.n_chars == 2 + 6 + 10 and c1.max_turn_chars == 10
    assert got["c2"].mean_gap_micro is None


def test_conv_repetition_hand_case(spark):
    from biosd_feature_annotator_spark.operators.context import (
        conv_repetition,
    )

    rows = [
        ("c1", 0, "retry the call"),
        ("c1", 1, "Retry  the call"),   # normalized duplicate
        ("c1", 2, "done"),
        ("c2", 0, "retry the call"),    # other conv: not a dup
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string"
    )
    got = {r.conv_id: r for r in conv_repetition(df).collect()}
    assert (got["c1"].n_turns, got["c1"].n_dup_turns) == (3, 1)
    assert got["c1"].dup_micro == 333_333
    assert got["c2"].n_dup_turns == 0


def test_tool_paths_hand_case(spark):
    from biosd_feature_annotator_spark.operators.context import tool_paths

    rows = [
        ("c1", 0, "search"), ("c1", 1, None), ("c1", 2, "fetch"),
        ("c1", 3, "calc"), ("c1", 4, "search"),   # 4th call cut at k=3
        ("c2", 0, "search"), ("c2", 1, "fetch"), ("c2", 2, "calc"),
        ("c3", 0, None),                          # no tools: excluded
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, tool string"
    )
    got = {r.path: r for r in tool_paths(df, 3).collect()}
    assert set(got) == {"search>fetch>calc"}
    assert got["search>fetch>calc"].n_convs == 2
    assert got["search>fetch>calc"].path_len == 3
