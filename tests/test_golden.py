"""The correctness gate: P/R ≥ 0.95 of emitted triples vs the frozen golden
set (BASELINE.json metric; FIXTURES.md §3 scoring), plus the structural
invariants g38-g43 — all through the REAL distributed pipeline
(mapInPandas extraction, broadcast link join, CC canonicalization)."""

from __future__ import annotations

import json
import os

import pytest
from conftest import write_transcripts
from pyspark.sql import functions as F

from biosd_feature_annotator_spark.plans.pipeline import annotate
from biosd_feature_annotator_spark.synth import golden_transcripts, golden_cases

VALUE_PREDS = {
    "hasOrganism", "hasSex", "hasNumber", "hasAge", "hasRange", "hasAgeRange", "hasDate",
}


@pytest.fixture(scope="module")
def plan(spark, lexicon):
    tables = annotate(spark, golden_transcripts(spark), lexicon, repartition=8)
    triples = tables["triples"].persist()
    triples.count()
    return {**tables, "triples": triples}


def expected_triples():
    exp = set()
    conf_of = {}
    for c in golden_cases():
        subj = f"{c['id']}:1"
        for e in c["expected"]:
            exp.add((subj, e["pred"], e["obj"]))
            if "confidence" in e:
                conf_of[(subj, e["pred"], e["obj"])] = e["confidence"]
    return exp, conf_of


def test_precision_recall(plan):
    exp, conf_of = expected_triples()
    golden_ids = {c["id"] for c in golden_cases()}
    got_rows = (
        plan["triples"]
        .where(F.col("pred").isin(sorted(VALUE_PREDS)))
        .where(F.col("conv_id").isin(sorted(golden_ids)))
        .select("subj", "pred", "obj", "confidence")
        .collect()
    )
    got = {(r.subj, r.pred, r.obj) for r in got_rows}
    tp = len(got & exp)
    precision = tp / len(got) if got else 0.0
    recall = tp / len(exp)
    assert precision >= 0.95, f"precision {precision}: FP={sorted(got - exp)}"
    assert recall >= 0.95, f"recall {recall}: FN={sorted(exp - got)}"
    # confidence levels must match where the golden set pins them
    got_conf = {(r.subj, r.pred, r.obj): r.confidence for r in got_rows}
    for key, want in conf_of.items():
        assert got_conf.get(key) == want, f"confidence mismatch {key}: {got_conf.get(key)} != {want}"


def test_g38_no_extraction_from_blank(plan):
    n = (
        plan["triples"]
        .where((F.col("conv_id") == "g38") & F.col("pred").isin(sorted(VALUE_PREDS)))
        .count()
    )
    assert n == 0


def test_g39_per_subject_triples(plan):
    n = (
        plan["triples"]
        .where(F.col("conv_id").startswith("g39_") & (F.col("pred") == "hasOrganism"))
        .count()
    )
    assert n == 100


def test_g40_canonical_merge(plan):
    nodes = plan["nodes"].where(F.col("node_id") == "NCBITaxon_9606").collect()
    assert len(nodes) == 1
    node = nodes[0]
    assert node.node_kind == "entity"
    assert set(node.aliases) >= {"human", "homo sapiens", "h. sapiens"}
    assert node.n_mentions >= 100


def test_g42_uses_tool(plan, spark):
    src = golden_transcripts(spark)
    n_tool_turns = src.where(F.col("tool").isNotNull()).count()
    tool_triples = plan["triples"].where(F.col("pred") == "usesTool").collect()
    assert len(tool_triples) == n_tool_turns
    assert all(t.obj.startswith("tool:") for t in tool_triples)


def test_g43_said_by(plan, spark):
    src = golden_transcripts(spark)
    n_turns = src.where(F.col("role").isNotNull()).count()
    assert plan["triples"].where(F.col("pred") == "saidBy").count() == n_turns


def test_g41_text_equality_invariant(plan, spark, tmp_path):
    """Per-turn text byte-equality under stable (conv_id, turn_idx) order
    across the storage round-trip + pipeline repartition (BASELINE.json)."""
    from biosd_feature_annotator_spark.sources.transcripts import read_transcripts

    src = golden_transcripts(spark)
    p = str(tmp_path / "t")
    write_transcripts(src, p, n_buckets=4)
    back = read_transcripts(spark, p)
    a = src.orderBy("conv_id", "turn_idx").select("conv_id", "turn_idx", "text").collect()
    b = back.orderBy("conv_id", "turn_idx").select("conv_id", "turn_idx", "text").collect()
    assert a == b
    # and the pipeline's repartitioned frame still joins back losslessly
    joined = (
        back.alias("i")
        .join(
            back.repartition(8, F.col("conv_id")).alias("o"),
            ["conv_id", "turn_idx"],
        )
        .where(
            ~(
                (F.col("i.text") == F.col("o.text"))
                | (F.col("i.text").isNull() & F.col("o.text").isNull())
            )
        )
        .count()
    )
    assert joined == 0


def test_determinism_two_runs(plan, spark, lexicon):
    """Same input → identical triple fingerprint on a re-planned run."""
    t2 = annotate(spark, golden_transcripts(spark), lexicon, repartition=3)["triples"]

    def fp(df):
        return (
            df.select(
                F.xxhash64(
                    *[F.coalesce(F.col(c).cast("string"), F.lit("\0"))
                      for c in ("subj", "pred", "obj", "confidence")]
                ).alias("h")
            )
            .agg(F.expr("bit_xor(h)"))
            .collect()[0][0]
        )

    assert fp(plan["triples"]) == fp(t2)
