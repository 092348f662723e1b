"""S4/S6/S7/J4: partitioned sink, manifests, resume, purge
(SURVEY.md §5.2(6): kill after partition k, rerun, assert no dup triples
and identical final hash)."""

from __future__ import annotations

import os

import pytest
from conftest import write_transcripts
from pyspark.sql import functions as F

from biosd_feature_annotator_spark.plans import materialize
from biosd_feature_annotator_spark.plans.materialize import (
    purge_run,
    read_manifests,
    read_triples,
    run_annotate,
    with_part_id,
)
from biosd_feature_annotator_spark.synth import synth_transcripts

N_PARTS = 8


@pytest.fixture(scope="module")
def transcripts(spark):
    df = synth_transcripts(spark, 800).persist()
    df.count()
    return df


def crashed(transcripts):
    """The input of a run that crashed after parts 0-3: running it fresh
    leaves those four parts done, as the crash would."""
    return with_part_id(transcripts, N_PARTS).where("part_id < 4").drop("part_id")


def table_fp(df):
    return (
        df.select(
            F.xxhash64(
                *[F.coalesce(F.col(c).cast("string"), F.lit("\0"))
                  for c in ("subj", "pred", "obj", "confidence")]
            ).alias("h")
        )
        .agg(F.expr("bit_xor(h)"), F.count("*"))
        .collect()[0]
    )


def test_resume_after_partial_run(spark, lexicon, transcripts, tmp_path):
    out_full = str(tmp_path / "full")
    out_part = str(tmp_path / "partial")

    # reference: single-shot full run
    run_annotate(spark, transcripts, lexicon, out_full, "r", N_PARTS, build_graph=False)
    full_fp = table_fp(read_triples(spark, out_full, "r"))

    # crashed run: only parts 0-3 complete, then resume finishes the rest
    run_annotate(
        spark, crashed(transcripts), lexicon, out_part, "r", N_PARTS, build_graph=False,
    )
    m1 = read_manifests(spark, out_part)
    assert m1.where("status = 'done'").count() == 4

    run_annotate(
        spark, transcripts, lexicon, out_part, "r", N_PARTS,
        resume=True, build_graph=False,
    )
    m2 = read_manifests(spark, out_part)
    # every part done exactly once — no duplicate manifests, no dup triples
    assert m2.groupBy("part_id").count().where("count > 1").count() == 0
    assert m2.count() == N_PARTS
    assert table_fp(read_triples(spark, out_part, "r")) == full_fp


def _graph(spark, out):
    return {
        name: sorted(map(tuple, spark.read.parquet(
            os.path.join(out, name, "run_id=r")).collect()))
        for name in ("nodes", "edges")
    }


def test_resume_builds_the_whole_runs_graph(spark, lexicon, transcripts, tmp_path):
    """Nodes and edges describe the whole run: a crash (parts 0-3) then
    a resume writes the same nodes and edges rows as a one-shot run, and
    so does a further resume that finds every part done."""
    out_full, out_part = str(tmp_path / "full"), str(tmp_path / "partial")
    run_annotate(spark, transcripts, lexicon, out_full, "r", N_PARTS)
    want = _graph(spark, out_full)
    assert want["nodes"] and want["edges"]

    run_annotate(spark, crashed(transcripts), lexicon, out_part, "r", N_PARTS)
    run_annotate(spark, transcripts, lexicon, out_part, "r", N_PARTS, resume=True)
    assert _graph(spark, out_part) == want
    run_annotate(spark, transcripts, lexicon, out_part, "r", N_PARTS, resume=True)
    assert _graph(spark, out_part) == want


def test_each_invocation_extracts_once(
    spark, lexicon, transcripts, tmp_path, monkeypatch
):
    """run_annotate plans one annotate per invocation. A fresh run and a
    resume with the graph extract every input row once; a resume without
    the graph extracts only the undone parts' rows."""
    calls = []
    real = materialize.annotate

    def counted(spark, df, *args, **kwargs):
        calls.append(df.count())
        return real(spark, df, *args, **kwargs)

    monkeypatch.setattr(materialize, "annotate", counted)
    n, n_done = transcripts.count(), crashed(transcripts).count()
    assert 0 < n_done < n

    run_annotate(spark, transcripts, lexicon, str(tmp_path / "fresh"), "r", N_PARTS)
    assert calls == [n]
    for build_graph, want in ((True, n), (False, n - n_done)):
        out = str(tmp_path / f"graph_{build_graph}")
        run_annotate(spark, crashed(transcripts), lexicon, out, "r", N_PARTS,
                     build_graph=build_graph)
        calls.clear()
        run_annotate(spark, transcripts, lexicon, out, "r", N_PARTS, resume=True,
                     build_graph=build_graph)
        assert calls == [want], build_graph


def _codecs(out, table):
    """The codec of every column chunk of every data file of one table."""
    import glob

    import pyarrow.parquet as pq

    codecs = []
    for f in glob.glob(os.path.join(out, table, "**", "*.parquet"), recursive=True):
        md = pq.ParquetFile(f).metadata
        codecs += [md.row_group(g).column(c).compression
                   for g in range(md.num_row_groups) for c in range(md.num_columns)]
    return codecs


def test_every_sink_file_is_zstd(spark, lexicon, transcripts, tmp_path):
    """get_spark's session writes the triples, the manifest, nodes and
    edges with ZSTD."""
    out = str(tmp_path / "zstd")
    run_annotate(spark, transcripts, lexicon, out, "r", N_PARTS)
    for table in ("triples", "manifests", "nodes", "edges"):
        codecs = _codecs(out, table)
        assert codecs and set(codecs) == {"ZSTD"}, (table, set(codecs))


def test_resume_over_a_snappy_half_matches_a_one_shot_run(
    spark, lexicon, transcripts, tmp_path
):
    """A store written partly under Spark's Snappy default, as stores
    written before the ZSTD default are, still resumes: Parquet records
    the codec per column chunk, so the reads mix codecs freely."""
    out_full, out_mixed = str(tmp_path / "full"), str(tmp_path / "mixed")
    run_annotate(spark, transcripts, lexicon, out_full, "r", N_PARTS)

    key = "spark.sql.parquet.compression.codec"
    codec = spark.conf.get(key)
    spark.conf.set(key, "snappy")
    try:
        run_annotate(spark, crashed(transcripts), lexicon, out_mixed, "r", N_PARTS,
                     build_graph=False)
    finally:
        spark.conf.set(key, codec)
    run_annotate(spark, transcripts, lexicon, out_mixed, "r", N_PARTS,
                 resume=True, build_graph=True)

    assert {"SNAPPY", "ZSTD"} <= set(_codecs(out_mixed, "triples"))
    triples = [sorted(map(tuple, read_triples(spark, out, "r").collect()))
               for out in (out_full, out_mixed)]
    assert triples[0] and triples[0] == triples[1]
    assert _graph(spark, out_mixed) == _graph(spark, out_full)
    parts = [r.part_id for r in read_manifests(spark, out_mixed).collect()]
    assert sorted(parts) == list(range(N_PARTS))


def test_resume_returns_only_this_invocations_rows(spark, lexicon, transcripts, tmp_path):
    """run_annotate returns the manifest rows it appended — not every row
    stored for the run — with the same fingerprints, counts and ts as the
    stored copies; a resume of a finished run appends and returns none."""
    out = str(tmp_path / "returned")
    first = run_annotate(
        spark, crashed(transcripts), lexicon, out, "r", N_PARTS, build_graph=False,
    )
    assert sorted(r.part_id for r in first.collect()) == [0, 1, 2, 3]

    second = run_annotate(
        spark, transcripts, lexicon, out, "r", N_PARTS, resume=True, build_graph=False
    ).collect()
    assert len(second) == N_PARTS - 4
    assert not {r.part_id for r in second} & {0, 1, 2, 3}
    stored = read_manifests(spark, out).where("part_id NOT IN (0, 1, 2, 3)").collect()
    assert sorted(second) == sorted(stored)
    assert len({r.ts for r in second}) == 1 and len({r.wall_ms for r in second}) == 1

    third = run_annotate(
        spark, transcripts, lexicon, out, "r", N_PARTS, resume=True, build_graph=False
    )
    assert third.count() == 0
    assert read_manifests(spark, out).count() == N_PARTS


def test_manifest_append_is_one_file_in_the_store_schema(spark, lexicon, transcripts, tmp_path):
    """Each invocation appends one manifest file, and every file carries
    MANIFEST_SCHEMA (types and nullability): a store whose files disagree
    on a column's type (int vs long wall_ms) can fail to read."""
    import glob
    import json

    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    from biosd_feature_annotator_spark.plans.materialize import MANIFEST_SCHEMA

    out = str(tmp_path / "schema")
    run_annotate(spark, transcripts, lexicon, out, "a", 4, build_graph=False)
    run_annotate(spark, transcripts, lexicon, out, "b", 4, build_graph=False)
    files = glob.glob(os.path.join(out, "manifests", "*.parquet"))
    assert len(files) == 2
    want = StructType.fromDDL(MANIFEST_SCHEMA).jsonValue()
    for f in files:
        meta = pq.ParquetFile(f).metadata.metadata
        assert json.loads(meta[b"org.apache.spark.sql.parquet.row.metadata"]) == want


def test_resume_is_idempotent_noop(spark, lexicon, transcripts, tmp_path):
    out = str(tmp_path / "noop")
    run_annotate(spark, transcripts, lexicon, out, "r", N_PARTS, build_graph=False)
    fp1 = table_fp(read_triples(spark, out, "r"))
    run_annotate(spark, transcripts, lexicon, out, "r", N_PARTS, resume=True, build_graph=False)
    assert read_manifests(spark, out).count() == N_PARTS
    assert table_fp(read_triples(spark, out, "r")) == fp1


def test_purge(spark, lexicon, transcripts, tmp_path):
    out = str(tmp_path / "purge")
    run_annotate(spark, transcripts, lexicon, out, "a", 4, build_graph=False)
    run_annotate(spark, transcripts, lexicon, out, "b", 4, build_graph=False)
    purge_run(out, "a", spark=spark)
    assert not os.path.exists(os.path.join(out, "triples", "run_id=a"))
    assert read_triples(spark, out, "b").count() > 0


def test_manifest_fingerprints_match_content(spark, lexicon, transcripts, tmp_path):
    """The manifest's per-part triple fingerprint must equal a recomputed
    fingerprint of the stored triples — lineage is verifiable, not advisory."""
    out = str(tmp_path / "fp")
    run_annotate(spark, transcripts, lexicon, out, "r", 4, build_graph=False)
    from biosd_feature_annotator_spark.plans.materialize import fingerprint

    recomputed = fingerprint(
        read_triples(spark, out, "r"), ["subj", "pred", "obj", "confidence"]
    )
    stored = read_manifests(spark, out).select(
        "part_id", F.col("n_triples").alias("n"), F.col("triple_fingerprint").alias("fp")
    )
    diff = recomputed.join(stored, "part_id").where(
        (recomputed.n != stored.n) | (recomputed.fp != stored.fp)
    )
    assert diff.count() == 0


def test_purge_with_spark_rewrites_manifests_and_resume_reprocesses(
    spark, lexicon, transcripts, tmp_path
):
    """ADVICE r1: purge must not leave status='done' manifest rows behind —
    a resumed re-run of a purged run_id would otherwise anti-join every
    part out and silently 'succeed' with no output."""
    out = str(tmp_path / "purge_m")
    run_annotate(spark, transcripts, lexicon, out, "a", 4, build_graph=False)
    run_annotate(spark, transcripts, lexicon, out, "b", 4, build_graph=False)
    fp_a = table_fp(read_triples(spark, out, "a"))

    purge_run(out, "a", spark=spark)
    m = read_manifests(spark, out)
    assert m.where("run_id = 'a'").count() == 0       # rows gone
    assert m.where("run_id = 'b'").count() == 4       # other run intact

    # resume of the purged run re-processes everything and restores data
    run_annotate(spark, transcripts, lexicon, out, "a", 4, resume=True, build_graph=False)
    assert table_fp(read_triples(spark, out, "a")) == fp_a
    assert read_manifests(spark, out).where("run_id = 'a'").count() == 4


def test_purge_crash_mid_manifest_swap_loses_no_rows(
    spark, lexicon, transcripts, tmp_path, crash_on_commit
):
    """A crash inside purge_run's manifest rewrite, between `manifests →
    .bak` and `tmp → manifests`: the next reader rolls the old manifest
    back (every row, the purged run's included) and the run's data is
    still there; a following run's append keeps all earlier rows."""
    out = str(tmp_path / "purge_crash")
    run_annotate(spark, transcripts, lexicon, out, "a", 4, build_graph=False)
    run_annotate(spark, transcripts, lexicon, out, "b", 4, build_graph=False)
    fp_a = table_fp(read_triples(spark, out, "a"))

    with pytest.raises(OSError, match="injected crash"):
        purge_run(out, "a", spark=spark)
    m = read_manifests(spark, out)
    assert m is not None
    assert sorted(r.run_id for r in m.collect()) == ["a"] * 4 + ["b"] * 4
    assert table_fp(read_triples(spark, out, "a")) == fp_a  # data kept too

    run_annotate(spark, transcripts, lexicon, out, "c", 4, build_graph=False)
    runs = [r.run_id for r in read_manifests(spark, out).collect()]
    assert sorted(runs) == ["a"] * 4 + ["b"] * 4 + ["c"] * 4
    # the failed purge is retryable
    purge_run(out, "a", spark=spark)
    runs = [r.run_id for r in read_manifests(spark, out).collect()]
    assert sorted(runs) == ["b"] * 4 + ["c"] * 4


def test_purge_older_than_retention(spark, lexicon, transcripts, tmp_path):
    from biosd_feature_annotator_spark.plans.materialize import purge_older_than

    out = str(tmp_path / "retention")
    run_annotate(spark, transcripts, lexicon, out, "old", 4, build_graph=False)
    run_annotate(spark, transcripts, lexicon, out, "new", 4, build_graph=False)
    # cutoff between the two runs' manifest timestamps: nothing is older
    # than epoch; everything is older than year 3000
    assert purge_older_than(spark, out, "1990-01-01 00:00:00") == []
    assert read_triples(spark, out, "old").count() > 0
    purged = purge_older_than(spark, out, "3000-01-01 00:00:00")
    assert purged == ["new", "old"]
    assert not os.path.exists(os.path.join(out, "triples", "run_id=old"))
    assert read_manifests(spark, out).count() == 0


def test_max_text_len_guard(spark, tmp_path):
    """P3: over-long turns are filtered JVM-side (visible as a Filter in
    the plan) while NULL-text turns survive (they still carry structure)."""
    import contextlib
    import io

    from biosd_feature_annotator_spark.sources.transcripts import read_transcripts

    rows = [
        ("c0", 0, "user", "short turn", None),
        ("c0", 1, "assistant", "x" * 5000, None),
        ("c1", 0, "user", None, None),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    ).withColumn("ts", F.timestamp_seconds(F.lit(1704067200)))
    p = str(tmp_path / "len_guard")
    write_transcripts(df, p, n_buckets=2)

    got = read_transcripts(spark, p, max_text_len=1000)
    kept = {(r.conv_id, r.turn_idx) for r in got.collect()}
    assert kept == {("c0", 0), ("c1", 0)}  # long turn dropped, NULL kept

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        got.explain("formatted")
    plan = buf.getvalue()
    assert "length(text" in plan and "Filter" in plan


def test_diff_runs_added_and_removed(spark, lexicon, transcripts, tmp_path):
    """KG maintenance: the triple diff of two runs over different input
    subsets reports exactly the triples unique to each side."""
    from biosd_feature_annotator_spark.plans.materialize import diff_runs

    out = str(tmp_path / "diffout")
    convs = [r[0] for r in transcripts.select("conv_id").distinct().collect()]
    half = sorted(convs)[: len(convs) // 2]
    run_annotate(spark, transcripts.where(F.col("conv_id").isin(half)),
                 lexicon, out, "rA", n_parts=N_PARTS, build_graph=False)
    run_annotate(spark, transcripts, lexicon, out, "rB",
                 n_parts=N_PARTS, build_graph=False)

    d = diff_runs(spark, out, "rA", "rB")
    by = {r["change"]: r["n"]
          for r in d.groupBy("change").agg(F.count("*").alias("n")).collect()}
    # B ⊇ A: everything in the diff is 'added', nothing 'removed'
    assert by.get("removed", 0) == 0 and by["added"] > 0
    a = read_triples(spark, out, "rA").select("subj", "pred", "obj").dropDuplicates()
    b = read_triples(spark, out, "rB").select("subj", "pred", "obj").dropDuplicates()
    assert by["added"] == b.count() - a.count()
    # and the reverse direction flags them as removed
    rev = diff_runs(spark, out, "rB", "rA")
    assert rev.where("change = 'removed'").count() == by["added"]
    assert rev.where("change = 'added'").count() == 0


def test_apply_diff_round_trips_to_target(spark, lexicon, transcripts, tmp_path):
    """The diff consumer contract: apply_diff(A, diff_runs(A, B)) must be
    set-identical to B — replaying deltas never drifts from a full
    re-materialization. Driven in BOTH directions (B ⊃ A exercises pure
    adds; A ⊂ B pure removes) plus a synthetic mixed diff."""
    from biosd_feature_annotator_spark.plans.materialize import (
        apply_diff,
        diff_runs,
    )

    out = str(tmp_path / "applyout")
    convs = [r[0] for r in transcripts.select("conv_id").distinct().collect()]
    half = sorted(convs)[: len(convs) // 2]
    run_annotate(spark, transcripts.where(F.col("conv_id").isin(half)),
                 lexicon, out, "rA", n_parts=N_PARTS, build_graph=False)
    run_annotate(spark, transcripts, lexicon, out, "rB",
                 n_parts=N_PARTS, build_graph=False)
    key = ["subj", "pred", "obj"]
    a = read_triples(spark, out, "rA").select(*key).dropDuplicates(key)
    b = read_triples(spark, out, "rB").select(*key).dropDuplicates(key)

    fwd = apply_diff(a, diff_runs(spark, out, "rA", "rB"))
    assert sorted(map(tuple, fwd.collect())) == sorted(map(tuple, b.collect()))
    rev = apply_diff(b, diff_runs(spark, out, "rB", "rA"))
    assert sorted(map(tuple, rev.collect())) == sorted(map(tuple, a.collect()))

    # mixed diff: hand-built add+remove in one delta
    base = spark.createDataFrame(
        [("s1", "p", "o1"), ("s2", "p", "o2")], "subj string, pred string, obj string")
    diff = spark.createDataFrame(
        [("removed", "s2", "p", "o2"), ("added", "s3", "p", "o3")],
        "change string, subj string, pred string, obj string")
    got = sorted(map(tuple, apply_diff(base, diff).collect()))
    assert got == [("s1", "p", "o1"), ("s3", "p", "o3")]
