"""T1-T5: incremental annotation via Structured Streaming (availableNow
catch-up semantics — the streaming analogue of manifest resume)."""

from __future__ import annotations

import pytest
from conftest import read_transcript_stream
from pyspark.sql import functions as F

from biosd_feature_annotator_spark.streaming.incremental import annotate_stream
from biosd_feature_annotator_spark.synth import synth_transcripts


@pytest.fixture(scope="module")
def stream_dirs(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("stream")
    in_dir = str(base / "in")
    # two file batches landing "over time"
    synth_transcripts(spark, 300).where("conv_id < 'c0000000030'").coalesce(1) \
        .write.mode("overwrite").parquet(in_dir)
    return {"in": in_dir, "out": str(base / "out"), "ck": str(base / "ck"), "base": base}


def test_incremental_annotate(spark, lexicon, stream_dirs):
    stream = read_transcript_stream(spark, stream_dirs["in"])
    assert stream.isStreaming
    q = annotate_stream(
        spark, stream, lexicon, stream_dirs["out"], stream_dirs["ck"]
    )
    q.awaitTermination(120)
    first = spark.read.parquet(stream_dirs["out"]).count()
    assert first > 0

    # a second batch of files lands; availableNow processes ONLY the new ones
    synth_transcripts(spark, 300).where(
        (F.col("conv_id") >= "c0000000030") & (F.col("conv_id") < "c0000000060")
    ).coalesce(1).write.mode("append").parquet(stream_dirs["in"])
    q2 = annotate_stream(
        spark,
        read_transcript_stream(spark, stream_dirs["in"]),
        lexicon,
        stream_dirs["out"],
        stream_dirs["ck"],
    )
    q2.awaitTermination(120)
    second = spark.read.parquet(stream_dirs["out"]).count()
    assert second > first

    # exactly-once across restarts: a third run with NO new files adds nothing
    q3 = annotate_stream(
        spark,
        read_transcript_stream(spark, stream_dirs["in"]),
        lexicon,
        stream_dirs["out"],
        stream_dirs["ck"],
    )
    q3.awaitTermination(120)
    assert spark.read.parquet(stream_dirs["out"]).count() == second


def test_stream_event_window_counts_matches_batch(spark, tmp_path):
    """The driver-verifiable streaming entry: availableNow run over the
    events table must materialize exactly the batch aggregation."""
    from pyspark.sql import functions as F

    from biosd_feature_annotator_spark.streaming.incremental import (
        stream_event_window_counts,
    )

    sf = "/root/testdata/sf0.001"
    got = stream_event_window_counts(
        spark, f"{sf}/events.parquet", str(tmp_path / "out"), str(tmp_path / "ck")
    )
    want = (
        spark.read.parquet(f"{sf}/events.parquet")
        .groupBy(
            F.window(F.col("ts").cast("timestamp"), "1 hour").alias("w"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").cast("timestamp_ntz").alias("win_start"),
                "event_type", "n", "sum_value")
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_stream_user_running_stats_matches_batch(spark, tmp_path):
    """applyInPandasWithState custom stateful op: final state after an
    availableNow catch-up run equals the batch aggregate."""
    from pyspark.sql import functions as F

    from biosd_feature_annotator_spark.streaming.incremental import (
        stream_user_running_stats,
    )

    sf = "/root/testdata/sf0.001"
    got = stream_user_running_stats(
        spark, f"{sf}/events.parquet", str(tmp_path / "out"), str(tmp_path / "ck")
    )
    want = (
        spark.read.parquet(f"{sf}/events.parquet")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"),
             F.round(F.sum("value"), 2).alias("sum_value"))
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_stream_user_running_stats_multi_batch(spark, tmp_path):
    """r3 VERDICT ask #8: the SAME stateful op under a REAL multi-batch
    availableNow run (input split into 3 files, maxFilesPerTrigger=1 ⇒
    one micro-batch per file) still equals the batch aggregate — the
    upsert sink keeps users whose last update came in an early batch, and
    totals agree with batch SQL within float-addition-order tolerance."""
    from pyspark.sql import functions as F

    from biosd_feature_annotator_spark.streaming.incremental import (
        stream_user_running_stats,
    )

    sf = "/root/testdata/sf0.001"
    got = stream_user_running_stats(
        spark, f"{sf}/events.parquet", str(tmp_path / "out"), str(tmp_path / "ck"),
        n_input_files=3, max_files_per_trigger=1,
    )
    # the run really was multi-batch: ≥3 distinct batch ids in the sink
    batch_ids = {
        r.batch_id
        for r in spark.read.parquet(str(tmp_path / "out"))
        .select("batch_id").distinct().collect()
    }
    assert len(batch_ids) >= 3, batch_ids
    want = (
        spark.read.parquet(f"{sf}/events.parquet")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
    )
    g = {r.user_id: (r.n_events, r.sum_value) for r in got.collect()}
    w = {r.user_id: (r.n_events, r.sum_value) for r in want.collect()}
    assert set(g) == set(w)
    for uid, (n, s) in w.items():
        gn, gs = g[uid]
        assert gn == n, (uid, gn, n)
        if s is None:
            assert gs is None, (uid, gs)
        else:
            # incremental fold adds in batch order; a batch sum may
            # associate differently — identical up to float rounding
            assert abs(gs - s) <= 0.005 + 1e-9 * abs(s), (uid, gs, s)


def test_stream_sessionize_matches_batch_sessions(spark, tmp_path):
    """session_window stream (complete mode, availableNow) equals a batch
    lag/gap sessionization at raw microsecond precision."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from biosd_feature_annotator_spark.streaming.incremental import (
        stream_sessionize_users,
    )

    sf = "/root/testdata/sf0.001"
    got = stream_sessionize_users(
        spark, f"{sf}/events.parquet", str(tmp_path / "out"), str(tmp_path / "ck")
    )
    e = spark.read.parquet(f"{sf}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = 30 * 60 * 1_000_000
    prev = F.lag("ts").over(w)
    diff_us = F.expr(
        "timestampdiff(MICROSECOND, lag(ts) OVER "
        "(PARTITION BY user_id ORDER BY ts, event_id), ts)"
    )
    new_sess = F.when(prev.isNull() | (diff_us >= gap_us), 1).otherwise(0)
    sess = e.withColumn("sess", F.sum(new_sess).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
    want = sess.groupBy("user_id", "sess").agg(
        F.min("ts").alias("s_start"),
        (F.max("ts") + F.expr("INTERVAL 30 MINUTES")).alias("s_end"),
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("session_value"),
    ).drop("sess")
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_stream_dedup_keys_is_distinct(spark, tmp_path):
    from biosd_feature_annotator_spark.streaming.incremental import (
        stream_dedup_keys,
    )

    sf = "/root/testdata/sf0.001"
    got = stream_dedup_keys(
        spark, f"{sf}/events.parquet", str(tmp_path / "out"), str(tmp_path / "ck")
    )
    want = spark.read.parquet(f"{sf}/events.parquet").select(
        "user_id", "event_type").distinct()
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_stream_annotate_corpus_equals_batch_flagship(spark, lexicon, tmp_path):
    """The availableNow transcript stream and the batch flagship emit the
    IDENTICAL triple multiset over the committed corpus."""
    import os

    from biosd_feature_annotator_spark.plans.pipeline import annotate
    from biosd_feature_annotator_spark.streaming.incremental import (
        stream_annotate_corpus,
    )

    corpus = os.path.join(os.path.dirname(__file__), "golden", "synth_corpus.parquet")
    got = stream_annotate_corpus(
        spark, corpus, lexicon, str(tmp_path / "out"), str(tmp_path / "ck")
    )
    batch = annotate(
        spark, spark.read.parquet(corpus), lexicon, build_graph=False
    )["triples"]
    assert got.count() == batch.count()
    assert got.exceptAll(batch).count() == 0 and batch.exceptAll(got).count() == 0


def test_stream_stream_join_matches_batch(spark, tmp_path):
    """Stream-stream inner join with event-time bounds: an availableNow
    run equals the batch join (inner matches emit in the finding batch;
    watermarks only gate state eviction)."""
    from pyspark.sql import functions as F

    from biosd_feature_annotator_spark.streaming.incremental import (
        stream_join_signup_purchase,
    )

    sf = "/root/testdata/sf0.001"
    got = stream_join_signup_purchase(
        spark, f"{sf}/events.parquet", str(tmp_path / "out"), str(tmp_path / "ck")
    )
    e = spark.read.parquet(f"{sf}/events.parquet")
    p = e.where("event_type = 'purchase'").select(
        F.col("event_id").alias("purchase_id"), "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    s = e.where("event_type = 'signup'").select(
        F.col("user_id").alias("s_user"), F.col("ts").alias("signup_ts")
    )
    want = p.join(
        s,
        (p.user_id == s.s_user)
        & (p.purchase_ts >= s.signup_ts)
        & (p.purchase_ts <= s.signup_ts + F.expr("INTERVAL 7 DAYS")),
    ).select("purchase_id", "user_id", "signup_ts", "purchase_ts")
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_stream_stream_join_across_micro_batches(spark, tmp_path):
    """State correctness across batches: with a TIME-SORTED input split
    into 3 files (one micro-batch each, no late data), a purchase in a
    later batch must still join a signup buffered from an earlier one —
    the multi-batch result equals the batch join exactly."""
    from pyspark.sql import functions as F

    from biosd_feature_annotator_spark.streaming.incremental import (
        stream_join_signup_purchase,
    )

    sf = "/root/testdata/sf0.001"
    src = str(tmp_path / "sorted.parquet")
    spark.read.parquet(f"{sf}/events.parquet").orderBy("ts").coalesce(
        1
    ).write.parquet(src)
    import glob as g

    one = g.glob(src + "/part-*.parquet")[0]
    got = stream_join_signup_purchase(
        spark, one, str(tmp_path / "out"), str(tmp_path / "ck"),
        n_input_files=3, max_files_per_trigger=1,
    )
    e = spark.read.parquet(f"{sf}/events.parquet")
    p = e.where("event_type = 'purchase'").select(
        F.col("event_id").alias("purchase_id"), "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    s = e.where("event_type = 'signup'").select(
        F.col("user_id").alias("s_user"), F.col("ts").alias("signup_ts")
    )
    want = p.join(
        s,
        (p.user_id == s.s_user)
        & (p.purchase_ts >= s.signup_ts)
        & (p.purchase_ts <= s.signup_ts + F.expr("INTERVAL 7 DAYS")),
    ).select("purchase_id", "user_id", "signup_ts", "purchase_ts")
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_stream_cms_counts_recovers_interrupted_swap(spark, tmp_path):
    """Simulate the two crash windows of the state swap in
    _fold_state_stream's commit: (a) crash between `out → .bak` and
    `tmp → out` (state exists only as .bak) — a restart must roll it
    back; (b) crash after commit but before .bak cleanup (both exist) —
    a restart must keep the NEW state and drop the stale .bak."""
    import os
    import shutil

    from biosd_feature_annotator_spark.streaming.incremental import (
        stream_cms_counts,
    )

    sf = "/root/testdata/sf0.001"
    out, ck = str(tmp_path / "state"), str(tmp_path / "ck")
    got = stream_cms_counts(
        spark, f"{sf}/events.parquet", out, ck, depth=4, width=64, n_files=2,
    )
    g = sorted(map(tuple, got.collect()))

    # (a) mid-swap crash: only .bak exists
    os.rename(out, out + ".bak")
    again = stream_cms_counts(
        spark, f"{sf}/events.parquet", out, ck, depth=4, width=64, fresh=False,
    )
    assert sorted(map(tuple, again.collect())) == g
    assert not os.path.isdir(out + ".bak")

    # (b) post-commit crash: stale .bak next to the committed state
    shutil.copytree(out, out + ".bak")
    again2 = stream_cms_counts(
        spark, f"{sf}/events.parquet", out, ck, depth=4, width=64, fresh=False,
    )
    assert sorted(map(tuple, again2.collect())) == g
    assert not os.path.isdir(out + ".bak")


def test_stream_component_assign_matches_full_recompute(spark, tmp_path):
    """3 real micro-batches of edge deltas, with the cross-batch merge
    case built in (batch 3's bridge edge merges components born in
    batches 1 and 2): the maintained state must be row-identical to a
    full CC recompute over all edges — the incremental_components
    exactness contract surviving the streaming state loop."""
    import json
    import os

    from biosd_feature_annotator_spark.operators.canonicalize import (
        connected_components,
    )
    from biosd_feature_annotator_spark.streaming.incremental import (
        stream_component_assign,
    )

    # ordered edge list: _stage_single_file splits by row ranges, so
    # batch1 = rows 0-3, batch2 = 4-7, batch3 = 8-11
    edges = [
        (1, 2), (2, 3), (10, 11), (20, 21),          # batch 1
        (30, 31), (31, 32), (11, 12), (40, 41),      # batch 2: extend 10s
        (3, 10), (21, 30), (50, 51), (0, 1),         # batch 3: bridges + new min
    ]
    src = str(tmp_path / "edges.parquet")
    spark.createDataFrame(edges, "src long, dst long") \
        .coalesce(1).write.parquet(str(tmp_path / "stage"))
    import glob
    import shutil
    shutil.copy(glob.glob(str(tmp_path / "stage" / "part-*.parquet"))[0], src)

    out, ck = str(tmp_path / "state"), str(tmp_path / "ck")
    got = stream_component_assign(spark, src, out, ck, n_files=3)
    want = connected_components(
        spark.createDataFrame(edges, "src long, dst long"))
    g = sorted(map(tuple, got.collect()))
    assert g == sorted(map(tuple, want.collect())) and len(g) > 0
    # the batch-3 bridge merged 1s+10s (with new global min 0) and 20s+30s
    comp = dict(g)
    assert comp[3] == comp[12] == 0
    assert comp[21] == comp[32] == 20

    with open(os.path.join(out, "_applied")) as fh:
        assert json.load(fh)["batch_id"] >= 2  # three micro-batches ran

    # restart with no new files: nothing replays, state untouched
    again = stream_component_assign(spark, src, out, ck, fresh=False)
    assert sorted(map(tuple, again.collect())) == g


def test_stream_cms_counts_matches_batch_and_is_restart_safe(spark, tmp_path):
    """The incrementally-merged CountMin grid after a real 3-micro-batch
    run equals the direct sketch over the full input cell-for-cell (the
    grid is a pure function of the value multiset, so ANY batch split
    commits identical state), and a no-new-files restart replays
    nothing."""
    import json
    import os

    from biosd_feature_annotator_spark.operators.sketches import cms_state
    from biosd_feature_annotator_spark.streaming.incremental import (
        stream_cms_counts,
    )

    sf = "/root/testdata/sf0.001"
    out, ck = str(tmp_path / "state"), str(tmp_path / "ck")
    got = stream_cms_counts(
        spark, f"{sf}/events.parquet", out, ck, depth=4, width=64, n_files=3,
    )
    want = cms_state(
        spark.read.parquet(f"{sf}/events.parquet"),
        "event_type", depth=4, width=64,
    )
    g = sorted(map(tuple, got.collect()))
    assert g == sorted(map(tuple, want.collect())) and len(g) > 0

    with open(os.path.join(out, "_applied")) as fh:
        applied = json.load(fh)["batch_id"]
    assert applied >= 2

    again = stream_cms_counts(
        spark, f"{sf}/events.parquet", out, ck,
        depth=4, width=64, fresh=False,
    )
    assert sorted(map(tuple, again.collect())) == g
    with open(os.path.join(out, "_applied")) as fh:
        assert json.load(fh)["batch_id"] == applied


def test_stream_hll_registers_matches_batch_and_is_restart_safe(
    spark, tmp_path
):
    """The incrementally max-merged portable-HLL register table after a
    real 3-micro-batch run equals the direct sketch over the full input
    row-for-row (registers are a pure function of the value set), and a
    no-new-files restart replays nothing."""
    import json
    import os

    from biosd_feature_annotator_spark.operators.sketches import (
        portable_hll_state,
    )
    from biosd_feature_annotator_spark.streaming.incremental import (
        stream_hll_registers,
    )

    sf = "/root/testdata/sf0.001"
    out, ck = str(tmp_path / "state"), str(tmp_path / "ck")
    got = stream_hll_registers(
        spark, f"{sf}/events.parquet", out, ck, p=8, n_files=3,
    )
    want = portable_hll_state(
        spark.read.parquet(f"{sf}/events.parquet"),
        ["event_type"], "user_id", p=8,
    )
    g = sorted(map(tuple, got.collect()))
    assert g == sorted(map(tuple, want.collect())) and len(g) > 0

    with open(os.path.join(out, "_applied")) as fh:
        applied = json.load(fh)["batch_id"]
    assert applied >= 2

    again = stream_hll_registers(
        spark, f"{sf}/events.parquet", out, ck, p=8, fresh=False,
    )
    assert sorted(map(tuple, again.collect())) == g


def test_stream_kmv_state_matches_batch_and_is_restart_safe(
    spark, tmp_path
):
    """The incrementally union-reranked KMV state after a real
    3-micro-batch run equals the direct bottom-k sketch over the full
    input row-for-row (bottom-k of a union = bottom-k of unioned
    bottom-k's), and a no-new-files restart replays nothing."""
    import json
    import os

    from biosd_feature_annotator_spark.operators.sketches import kmv_state
    from biosd_feature_annotator_spark.streaming.incremental import (
        stream_kmv_state,
    )

    sf = "/root/testdata/sf0.001"
    out, ck = str(tmp_path / "state"), str(tmp_path / "ck")
    got = stream_kmv_state(
        spark, f"{sf}/events.parquet", out, ck, k=32, n_files=3,
    )
    want = kmv_state(
        spark.read.parquet(f"{sf}/events.parquet"),
        ["event_type"], "user_id", k=32,
    )
    g = sorted(map(tuple, got.collect()))
    assert g == sorted(map(tuple, want.collect())) and len(g) > 0

    with open(os.path.join(out, "_applied")) as fh:
        applied = json.load(fh)["batch_id"]
    assert applied >= 2

    again = stream_kmv_state(
        spark, f"{sf}/events.parquet", out, ck, k=32, fresh=False,
    )
    assert sorted(map(tuple, again.collect())) == g
