"""Physical-plan audits (SURVEY.md §4): the optimizations we rely on at
100 TB must actually appear in the executed plan, not just in docstrings.
Each test greps .explain('formatted') output for the load-bearing operator."""

from __future__ import annotations

import contextlib
import io

import pytest
from conftest import write_transcripts
from pyspark.sql import functions as F

from biosd_feature_annotator_spark.sources.lexicon import lexicon_df
from biosd_feature_annotator_spark.sources.transcripts import read_transcripts
from biosd_feature_annotator_spark.synth import synth_transcripts

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def tpath(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("plans") / "t")
    write_transcripts(synth_transcripts(spark, 500), p, n_buckets=4)
    return p


def test_filter_pushdown_reaches_scan(spark, tpath):
    df = read_transcripts(spark, tpath).where(F.col("conv_id") == "c0000000001")
    plan = plan_of(df)
    assert "PushedFilters" in plan
    assert "conv_id" in plan.split("PushedFilters")[1].splitlines()[0]


def test_column_pruning(spark):
    df = spark.read.parquet(f"{SF}/lineitem.parquet").select("l_orderkey", "l_quantity")
    plan = plan_of(df)
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_comment" not in read_schema and "l_extendedprice" not in read_schema


def test_link_join_is_broadcast(spark, lexicon, tpath):
    from biosd_feature_annotator_spark.operators.extract import extract_mentions
    from biosd_feature_annotator_spark.operators.link import link_entities

    mentions = extract_mentions(read_transcripts(spark, tpath), lexicon)
    linked = link_entities(mentions, lexicon_df(spark, lexicon))
    assert "BroadcastHashJoin" in plan_of(linked)
    # the dictionary (right) side is the one broadcast, never the mentions
    linked.collect()
    assert "BuildRight" in linked._jdf.queryExecution().executedPlan().toString()


LEXICON_DDL = (
    "match_norm string, match_kind string, term_id string, pred string, "
    "term_label string, conf double, confidence string"
)


@pytest.mark.parametrize("arrow", ["true", "false"])
def test_lexicon_df_is_a_local_relation(spark, lexicon, arrow):
    """The link dictionary plans as a LocalRelation whether or not the
    Arrow conf is on: reading it runs no Python-worker job, and its size
    estimate is exact. The schema is the one the link join was built on."""
    from pyspark.sql.types import StructType

    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, arrow)
        df = lexicon_df(spark, lexicon)
        analyzed = df._jdf.queryExecution().analyzed()
        assert analyzed.getClass().getSimpleName() == "LocalRelation"
    finally:
        spark.conf.set(key, before)
    assert df.schema == StructType.fromDDL(LEXICON_DDL)


@pytest.mark.parametrize("extraction", ["python", "jvm"])
def test_annotate_plans_scan_no_python_rdd(spark, lexicon, tpath, extraction):
    """Over a parquet source, no table annotate() returns reads a pickled
    Python RDD: the dictionary frames of both extraction backends are
    local relations."""
    from biosd_feature_annotator_spark.plans.pipeline import annotate

    out = annotate(spark, read_transcripts(spark, tpath), lexicon, extraction=extraction)
    for name in ("triples", "nodes", "edges"):
        df = out[name]
        df.collect()  # finalize the AQE plan
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan and "LogicalRDD" not in plan, (name, plan)


def test_retention_offsets_scan_no_python_rdd(spark):
    """rolling_retention's k-days frame is a local relation, so the
    events_retention query reads no pickled Python RDD."""
    import __spark_entry__ as entrymod

    df = entrymod.q_events_retention(spark, SF)
    df.collect()  # finalize the AQE plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan and "LogicalRDD" not in plan, plan


def test_salted_agg_is_two_phase(spark):
    import __spark_entry__ as e

    plan = plan_of(e.q_salted_agg(spark, SF))
    # two logical groupBys → at least two HashAggregate pairs in the plan
    assert plan.count("HashAggregate") >= 4


def test_semi_anti_join_operators(spark):
    import __spark_entry__ as e

    assert "LeftSemi" in plan_of(e.q_semi_join_segments(spark, SF))
    assert "LeftAnti" in plan_of(e.q_anti_join_segments(spark, SF))


def test_theta_join_is_broadcast_nested_loop(spark):
    import __spark_entry__ as e

    assert "BroadcastNestedLoopJoin" in plan_of(e.q_theta_band_join(spark, SF))


def test_extraction_reads_only_needed_columns(spark, lexicon, tpath):
    from biosd_feature_annotator_spark.operators.extract import extract_mentions

    plan = plan_of(extract_mentions(read_transcripts(spark, tpath), lexicon))
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    # extraction needs conv_id, turn_idx, text — not role/tool/ts
    assert "text" in read_schema
    assert "role" not in read_schema and "tool" not in read_schema


def test_zero_shuffle_hot_path(spark, lexicon):
    """With a conv_id-bucketed source (repartition=0) the triple plan must
    contain NO Exchange — the 100 TB design claim, asserted on the real
    physical plan."""
    from biosd_feature_annotator_spark.plans.pipeline import annotate
    from biosd_feature_annotator_spark.synth import synth_transcripts

    tr = synth_transcripts(spark, 300)
    triples = annotate(spark, tr, lexicon, build_graph=False,
                       repartition=0, cache_mentions=False)["triples"]
    plan = plan_of(triples)
    # broadcast exchange for the dictionary is fine; data exchanges are not
    data_exchanges = [
        ln for ln in plan.splitlines()
        if "Exchange" in ln and "Broadcast" not in ln and "SinglePartition" not in ln
    ]
    assert not data_exchanges, data_exchanges


def test_skewed_hot_entity_pipeline(spark, lexicon):
    """Skew stress (SURVEY.md M7): ~30% of turns mention the same entity;
    pipeline + canonicalization stay correct (salted CC handles the star)."""
    from pyspark.sql import functions as F

    from biosd_feature_annotator_spark.plans.pipeline import annotate
    from biosd_feature_annotator_spark.synth import synth_transcripts

    tr = synth_transcripts(spark, 2000).withColumn(
        "text",
        F.when(F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(10)) < 3,
               F.concat(F.col("text"), F.lit(" sampled from Homo sapiens donor")))
        .otherwise(F.col("text")),
    )
    out = annotate(spark, tr, lexicon)
    n_hot = out["triples"].where(
        (F.col("pred") == "hasOrganism") & (F.col("obj") == "NCBITaxon_9606")
    ).count()
    n_turns = tr.count()
    assert n_hot >= 0.25 * n_turns
    node = out["nodes"].where("node_id = 'NCBITaxon_9606'").collect()[0]
    assert node.n_mentions >= n_hot


def test_hash_split_is_pure_projection(spark):
    """r3 training op: the split must add ZERO shuffles — it is a pure
    function of the id column (the 100 TB property: any subset splits
    consistently with no data movement)."""
    from biosd_feature_annotator_spark.operators.training import hash_split

    d = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan_of(hash_split(d, "doc_id").select("doc_id", "split"))
    assert "Exchange" not in p


def test_pack_greedy_is_one_shuffle(spark):
    """Sequence packing = exactly one Exchange (the window partition by
    the packing column); anything more would re-shuffle the corpus."""
    from biosd_feature_annotator_spark.operators.training import pack_greedy

    d = spark.read.parquet(f"{SF}/documents.parquet").withColumn(
        "n_tok", F.size(F.split("text", " "))
    )
    import re

    p = plan_of(pack_greedy(d, "doc_id", "n_tok", budget=512, part_col="source"))
    # formatted explain prints each node twice (tree + detail); count the
    # numbered detail entries
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) == 1


def test_khop_frontier_joins_broadcast(spark):
    """k-hop: with a small frontier the per-hop joins must be broadcasts
    (map-side BFS), not shuffle joins of the edge list."""
    from biosd_feature_annotator_spark.operators.graph import khop

    edges = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}") for i in range(50)], "src string, dst string"
    )
    seeds = spark.createDataFrame([("n0",)], "node string")
    out = khop(edges, seeds, k=2)
    out.collect()  # finalize AQE
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_semantic_dedup_is_equi_join_on_cell(spark):
    """SemDeDup candidate generation must be an equi join on the cell id
    (shuffle- or broadcast-hash), NEVER a cartesian/BNL all-pairs — the
    property that makes it viable at 10^9 vectors."""
    from biosd_feature_annotator_spark.operators.similarity import semantic_dedup

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    p = plan_of(semantic_dedup(e, threshold=0.3, dim=64))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_linear_quality_score_is_zero_shuffle_projection(spark):
    """Model scoring composes into the scan: no Exchange anywhere in the
    plan, and only the text/id columns are read (column pruning)."""
    import re

    from biosd_feature_annotator_spark.operators.training import (
        linear_quality_score,
    )

    d = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan_of(linear_quality_score(d).select("doc_id", "q_logit"))
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) == 0
    m = re.search(r"ReadSchema: (.*)", p)
    assert m and "n_chars" not in m.group(1)  # pruned to doc_id + text


def test_filtered_topk_predicate_pushed_to_scan(spark):
    """The RAG metadata filter must reach the corpus parquet scan as a
    pushed filter, so a label-partitioned corpus prunes before scoring."""
    from biosd_feature_annotator_spark.operators.similarity import cosine_topk

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = e.where(F.col("vec_id") < 5)
    p = plan_of(cosine_topk(q, e.where(F.col("label") == 3), k=4))
    import re

    m = re.search(r"PushedFilters: \[[^\]]*EqualTo\(label,3\)[^\]]*\]", p)
    assert m and "IsNotNull(label)" in m.group(0)


def test_chunk_documents_plan_has_no_exchange(spark):
    """chunk_documents claims 'pure projection + explode, zero shuffles'
    — hold it to that: the optimized plan must contain no Exchange, and
    the parquet scan must be pruned to (doc_id, text)."""
    import re

    from biosd_feature_annotator_spark.operators.training import chunk_documents

    d = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan_of(chunk_documents(d, "doc_id", "text", 32, 24))
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) == 0
    m = re.search(r"ReadSchema: (.*)", p)
    assert m and "lang" not in m.group(1) and "source" not in m.group(1)
