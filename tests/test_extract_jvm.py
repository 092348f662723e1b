"""The zero-Python JVM extraction backend (operators/extract_jvm) must be
fingerprint-equivalent to the pandas-UDF extractor on the engine's
corpora, and its plan-build-time Bloom hash must equal Spark's xxhash64."""

from __future__ import annotations

from pyspark.sql import functions as F

from biosd_feature_annotator_spark.operators.extract_jvm import (
    extract_mentions_jvm,
    xxh64,
)
from biosd_feature_annotator_spark.plans.pipeline import annotate
from biosd_feature_annotator_spark.synth import golden_transcripts, synth_transcripts


def _signed(x: int) -> int:
    return x - (1 << 64) if x >= (1 << 63) else x


def test_xxh64_matches_spark_xxhash64(spark):
    """The driver-side Bloom build and the per-row probe must hash
    identically, else the gate could produce false negatives."""
    samples = ["the", "homo", "sapiens", "a", "zebra12", "übermut",
               "longertokenvalue_here_for_32plus_bytes_xyz_0123456789", ""]
    got = {
        r.t: r.h
        for r in spark.createDataFrame([(s,) for s in samples], "t string")
        .select("t", F.xxhash64("t").alias("h"))
        .collect()
    }
    for s in samples:
        assert got[s] == _signed(xxh64(s.encode("utf-8"))), s


def _triples(spark, tr, lex, mode):
    t = annotate(spark, tr, lex, build_graph=False, cache_mentions=False,
                 extraction=mode)["triples"]
    return sorted(
        (r.subj, r.pred, r.obj, r.confidence, r.unit)
        for r in t.collect()
    )


def test_jvm_matches_python_on_synth_corpus(spark, lexicon):
    tr = synth_transcripts(spark, 3000)
    assert _triples(spark, tr, lexicon, "jvm") == _triples(spark, tr, lexicon, "python")


def test_jvm_matches_python_on_golden_corpus(spark, lexicon):
    """Full parity on the frozen golden set — punctuated surfaces
    ('h. sapiens'), MEDIUM token matches, date priorities, ranges, units,
    age routing, NULL/blank turns."""
    tr = golden_transcripts(spark)
    assert _triples(spark, tr, lexicon, "jvm") == _triples(spark, tr, lexicon, "python")


def test_jvm_value_semantics(spark, lexicon):
    rows = [
        ("c0", 0, "user", "weighed 72 kg and measured 72 cm today", None),
        ("c1", 0, "user", "between 3 and 9 years old since 1998", None),
        ("c2", 0, "user", "dose 9e999 administered", None),  # overflow skipped
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    ).withColumn("ts", F.timestamp_seconds(F.lit(0)))
    m = extract_mentions_jvm(spark, df, lexicon)
    got = {(r.conv_id, str(r.kind), str(r.obj), str(r.unit)) for r in m.collect()}
    assert ("c0", "number", "num:72", "kilogram") in got  # first unit wins
    assert sum(1 for g in got if g[0] == "c0") == 1  # (obj, pred) dedup
    assert ("c1", "range", "range:[3,9]year", "year") in got
    assert ("c1", "date", "date:1998-01-01", "None") in got
    assert not any(g[0] == "c2" and g[1] == "number" for g in got)


def test_jvm_no_python_in_plan(spark, lexicon):
    """The JVM backend's physical plan must contain no Python/Arrow eval
    operators — that is its whole point."""
    import contextlib
    import io

    tr = synth_transcripts(spark, 200)
    t = annotate(spark, tr, lexicon, build_graph=False, cache_mentions=False,
                 extraction="jvm")["triples"]
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        t.explain("formatted")
    plan = buf.getvalue()
    # applySchemaToPythonRDD (the tiny createDataFrame dictionary frames,
    # built once driver-side and broadcast) is fine; per-ROW Python
    # evaluation operators are not
    for op in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas"):
        assert op not in plan, op


def test_frame_cache_releases_dead_lexicons(spark):
    """r3 ADVICE: the per-process frame cache must not pin a dropped
    lexicon forever — entries hold the lexicon only via weakref and are
    swept on the next cache access after it dies."""
    import gc

    from biosd_feature_annotator_spark.operators import extract_jvm as ej
    from biosd_feature_annotator_spark.sources.lexicon import load_lexicon

    lex = load_lexicon("tests/golden/lexicon.json")
    ej._lexicon_grams(spark, lex)
    key = ("grams", id(spark), id(lex))
    assert key in ej._FRAME_CACHE
    # a second lookup for the SAME live lexicon hits the cache
    assert ej._frame_cache_get("grams", spark, lex) is not None
    del lex
    gc.collect()
    # any later cache access sweeps the dead entry
    class _Other:  # never cached; just drives the sweep
        pass

    ej._frame_cache_get("grams", spark, _Other())
    assert key not in ej._FRAME_CACHE


def test_prewarm_extraction_smoke(spark, lexicon):
    """prewarm_extraction runs the jvm path twice over a slice of the real
    relation and leaves later extraction results unchanged."""
    from biosd_feature_annotator_spark.plans.pipeline import prewarm_extraction

    tr = golden_transcripts(spark)
    prewarm_extraction(spark, lexicon, like=tr.where("conv_id < 'g10'"))
    a = _triples(spark, tr, lexicon, "jvm")
    b = _triples(spark, tr, lexicon, "python")
    assert a == b
