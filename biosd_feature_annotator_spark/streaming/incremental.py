"""Structured-Streaming hooks (SURVEY.md §2.10 T1-T5, axis B).

The reference re-scanned its whole DB per campaign; the engine annotates
*new* transcript partitions as they land. Same extraction/link operators —
they're stateless per turn, so the batch plan lifts to a stream untouched.
``trigger(availableNow=True)`` gives catch-up batch semantics with
streaming checkpoints: the cluster cron-runs the job and it processes
exactly the unseen files, then exits — the streaming analogue of the
manifest resume in plans/materialize.py.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import dirswap
from ..plans.pipeline import annotate
from ..sources.lexicon import Lexicon
from ..sources.transcripts import TRANSCRIPT_SCHEMA


def annotate_stream(
    spark: SparkSession,
    stream: DataFrame,
    lex: Lexicon,
    out_path: str,
    checkpoint: str,
):
    """T1+T5: each micro-batch goes through plans/pipeline.annotate via
    foreachBatch (the standard way to lift a plan with aggregations onto
    a stream: best_link's min_by aggregate would otherwise need streaming
    state), so the stream links exactly like the batch path. It writes the
    ``extracted`` triples only: term and value triples, no structural
    (saidBy/usesTool) ones, no conv_id repartition, no mention cache and
    no graph. Uncached, the batch's plan runs the extractor twice, which
    still beats the persist at micro-batch sizes (see annotate's
    ``cache_mentions``). Progress tracking is the streaming checkpoint
    (file-source offsets), so each file is processed exactly once across
    restarts; the parquet append itself is at-least-once on crash
    mid-batch — on a cluster the sink would be an Iceberg transactional
    append. The trigger is availableNow: drain the unseen files, then
    stop. Returns the StreamingQuery."""

    def process_batch(batch_df, batch_id: int) -> None:
        annotate(
            spark, batch_df, lex, repartition=0, build_graph=False,
            cache_mentions=False,
        )["extracted"].write.mode("append").parquet(out_path)

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


EVENT_STREAM_SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, "
    "value double, props string"
)


def _stage_dir(checkpoint: str) -> str:
    return os.path.join(os.path.dirname(checkpoint.rstrip("/")), "in")


def _stage_single_file(
    events_path: str, checkpoint: str, n_files: int = 1
) -> str:
    """The file-stream source wants a DIRECTORY of arriving files; the
    testdata layout is a single parquet file, so stage it into one (the
    realistic shape anyway — new files landing in a drop directory).

    n_files > 1 splits the input into that many row-range parquet files —
    combined with maxFilesPerTrigger=1 this forces a REAL multi-batch
    availableNow run (one micro-batch per file), the shape the
    multi-batch state-correctness tests drive."""
    if not os.path.isfile(events_path):
        return events_path
    in_dir = _stage_dir(checkpoint)
    shutil.rmtree(in_dir, ignore_errors=True)
    os.makedirs(in_dir)
    if n_files <= 1:
        shutil.copy(events_path, os.path.join(in_dir, "part-0.parquet"))
    else:
        import time

        import pyarrow.parquet as pq

        t = pq.read_table(events_path)
        step = max(1, -(-t.num_rows // n_files))
        base = time.time() - n_files - 1
        for i in range(0, n_files):
            chunk = t.slice(i * step, step)
            if chunk.num_rows:
                p = os.path.join(in_dir, f"part-{i}.parquet")
                pq.write_table(chunk, p)
                # Spark's FileStreamSource orders arriving files by
                # MODIFICATION TIME, and ties (all chunks written within
                # one ms on a fast disk) break arbitrarily — which
                # scrambles micro-batch order. Order-free states (CMS,
                # HLL, KMV, CC) don't care, but any time-ordered contract
                # does: stamp strictly increasing mtimes so batch order
                # always equals the row-range (= time) order.
                os.utime(p, (base + i, base + i))
    return in_dir


def _staged_stream(
    spark: SparkSession, src_path: str, out_path: str, checkpoint: str,
    n_files: int = 1, max_files_per_trigger: int | None = None,
    schema: str = EVENT_STREAM_SCHEMA, fresh: bool = True,
) -> DataFrame:
    """The stream members' shared prologue: reset out_path and the
    checkpoint, stage the input (_stage_single_file) and open the
    file-stream reader over it. fresh=False is a restart: nothing is
    reset; a single-file input streams from the directory the fresh run
    staged it into, and a directory input streams as-is — new files keep
    folding in, already-committed ones are tracked by the source."""
    if fresh:
        for p in (out_path, checkpoint):
            shutil.rmtree(p, ignore_errors=True)
        src_path = _stage_single_file(src_path, checkpoint, n_files=n_files)
    elif os.path.isfile(src_path):
        src_path = _stage_dir(checkpoint)
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(src_path)


def _run_available_now(
    df: DataFrame, write_batch, checkpoint: str, output_mode: str = "append"
) -> None:
    """Drain the stream once (availableNow catch-up) through a
    checkpointed foreachBatch sink."""
    (
        df.writeStream.outputMode(output_mode)
        .foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def _upsert_per_user(
    spark: SparkSession, updated: DataFrame, out_path: str, checkpoint: str,
    cols: list[str],
) -> DataFrame:
    """The per-user stateful members' sink: each micro-batch APPENDS its
    update rows stamped with their batch id, and the read-back takes the
    LAST emitted row per user — an upsert view, so users updated only in
    early batches survive later batches (a plain overwrite sink would
    drop them)."""

    def write_batch(batch_df, batch_id: int) -> None:
        batch_df.withColumn("batch_id", F.lit(int(batch_id))).write.mode(
            "append"
        ).parquet(out_path)

    _run_available_now(updated, write_batch, checkpoint, "update")
    w = Window.partitionBy("user_id").orderBy(F.col("batch_id").desc())
    return (
        spark.read.parquet(out_path)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(*cols)
    )


def stream_event_window_counts(
    spark: SparkSession, events_path: str, out_path: str, checkpoint: str
) -> DataFrame:
    """Driver-verifiable end-to-end streaming run (T1+T2+T3+T5): a REAL
    readStream → watermark → tumbling-window aggregate → foreachBatch
    parquet sink, executed with availableNow (catch-up batch semantics),
    then the materialized output read back as a batch DataFrame. The
    result is deterministic — epoch-aligned hourly windows over a static
    input — so a plain batch SQL twin (time_bucket in DuckDB) verifies
    what the stream actually wrote.

    complete output mode keeps every window in state (correct here: the
    check wants the full history; an unbounded production stream would
    use update/append + watermark eviction)."""
    # watermarks require TIMESTAMP (not NTZ); pin UTC so the NTZ↔LTZ casts
    # are wall-clock-preserving and the emitted window starts are the same
    # naive datetimes a SQL engine computes with time_bucket
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = _staged_stream(spark, events_path, out_path, checkpoint).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )

    def write_batch(batch_df, _batch_id: int) -> None:
        batch_df.select(
            F.col("w.start").cast("timestamp_ntz").alias("win_start"),
            "event_type", "n", "sum_value",
        ).write.mode("overwrite").parquet(out_path)

    _run_available_now(agg, write_batch, checkpoint, "complete")
    return spark.read.parquet(out_path)


def stream_user_running_stats(
    spark: SparkSession, events_path: str, out_path: str, checkpoint: str,
    n_input_files: int = 1, max_files_per_trigger: int | None = None,
) -> DataFrame:
    """CUSTOM STATEFUL streaming operator (SURVEY §2.11): per-user running
    totals maintained as explicit group state via applyInPandasWithState —
    the shape a 100 TB incremental pipeline uses for anything Spark's
    built-in stateful ops can't express (running counters, per-entity
    accumulators, custom eviction). State is (n_events, sum_value) per
    user; each micro-batch folds its rows in and emits the UPDATED rows.

    MULTI-BATCH CORRECT (r3 VERDICT ask #8): the sink APPENDS each
    micro-batch's update rows stamped with their batch id, and the
    read-back takes the LAST emitted row per user — an upsert view, so
    users updated only in early batches survive later batches (a plain
    overwrite sink would drop them). State holds the UNROUNDED total;
    round(…, 2) is display-only on emit, so the surviving final row per
    user carries round(final_total) — batch-count-independent up to float
    addition order. n_input_files / max_files_per_trigger force a real
    multi-batch availableNow run (tested with ≥3 micro-batches in
    tests/test_streaming.py)."""
    import pandas as pd

    stream = _staged_stream(
        spark, events_path, out_path, checkpoint,
        n_input_files, max_files_per_trigger,
    )

    def update(key, pdfs, state):
        # SQL NULL-sum semantics (ADVICE r2): only non-null values fold
        # into the total, and a user with NO non-null values reports NULL
        # (state total stays None), exactly like sum(value) in SQL.
        (user_id,) = key
        n, total = state.get if state.exists else (0, None)
        for pdf in pdfs:
            n += len(pdf)
            vals = pdf["value"].dropna()
            if len(vals):
                total = (total or 0.0) + float(vals.sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n],
             "sum_value": [None if total is None else round(total, 2)]}
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    updated = stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, sum_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _upsert_per_user(
        spark, updated, out_path, checkpoint, ["user_id", "n_events", "sum_value"]
    )


def stream_sessionize_users(
    spark: SparkSession, events_path: str, out_path: str, checkpoint: str,
    gap: str = "30 minutes",
) -> DataFrame:
    """Driver-verifiable T3 SESSION windows: a real readStream →
    watermark → session_window(ts, gap) aggregation keyed by user_id,
    materialized via checkpointed foreachBatch and read back as a batch
    frame. Session-window aggregation streams in complete (or append)
    mode only; complete + a foreachBatch overwrite emits the final merged
    session set (append would hold back sessions newer than the final
    watermark).

    Session semantics (what the SQL twin must replicate): consecutive
    events of a user merge while ts_next − ts_prev < gap (strict); the
    emitted window is [min(ts), max(ts) + gap). All comparisons are raw
    microsecond timestamp arithmetic — no epoch flooring — so the oracle
    compares timestamps exactly. UTC is pinned (job-level conf, as in
    stream_event_window_counts) so the NTZ→LTZ→NTZ round-trip the
    streaming engine needs is wall-clock-preserving."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = _staged_stream(spark, events_path, out_path, checkpoint).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
    )

    def write_batch(batch_df, _batch_id: int) -> None:
        batch_df.select(
            "user_id",
            F.col("w.start").cast("timestamp_ntz").alias("s_start"),
            F.col("w.end").cast("timestamp_ntz").alias("s_end"),
            "n_events", "session_value",
        ).write.mode("overwrite").parquet(out_path)

    _run_available_now(agg, write_batch, checkpoint, "complete")
    return spark.read.parquet(out_path)


def stream_dedup_keys(
    spark: SparkSession, events_path: str, out_path: str, checkpoint: str
) -> DataFrame:
    """Driver-verifiable T4: dropDuplicatesWithinWatermark keyed on
    (user_id, event_type), materialized and read back. WHICH physical row
    survives per key depends on partition arrival order, so the query
    projects the KEY COLUMNS ONLY — that multiset is deterministic and
    equals DISTINCT over the same horizon (single availableNow batch ⇒
    the horizon is the whole input), which is exactly what the SQL twin
    checks."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = _staged_stream(spark, events_path, out_path, checkpoint).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    deduped = (
        stream.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    _run_available_now(
        deduped, lambda df, _: df.write.mode("append").parquet(out_path), checkpoint
    )
    return spark.read.parquet(out_path)


def stream_annotate_corpus(
    spark: SparkSession, corpus_path: str, lex: Lexicon,
    out_path: str, checkpoint: str,
) -> DataFrame:
    """The transcript-KG STREAM driver-verified end-to-end: the committed
    corpus lands in a drop directory, annotate_stream (the production
    foreachBatch pipeline: extraction → broadcast link join → triple
    union) processes it with availableNow + checkpoint, and the
    materialized triples are read back — lining up column-for-column with
    the batch flagship so the SAME _transcripts_kg_sql oracle re-derives
    every triple."""
    stream = _staged_stream(
        spark, corpus_path, out_path, checkpoint, schema=TRANSCRIPT_SCHEMA
    )
    q = annotate_stream(spark, stream, lex, out_path, checkpoint)
    q.awaitTermination()
    # structural triples are part of the flagship contract but not of the
    # per-batch extraction stream; assemble them batch-side from the same
    # corpus (they are stateless projections) to match the flagship shape
    from ..operators.link import structural_triples, TRIPLE_COLS

    extracted = spark.read.parquet(out_path)
    corpus = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(corpus_path)
    return extracted.unionByName(structural_triples(corpus)).select(*TRIPLE_COLS)


def stream_join_signup_purchase(
    spark: SparkSession, events_path: str, out_path: str, checkpoint: str,
    horizon: str = "7 days",
    n_input_files: int = 1, max_files_per_trigger: int | None = None,
) -> DataFrame:
    """STREAM-STREAM inner join with an event-time range constraint (the
    remaining Structured Streaming join family): purchases join signups
    of the same user within [signup_ts, signup_ts + horizon]. Both sides
    carry watermarks — on a live stream that bounds the join state Spark
    must buffer (signups older than horizon + watermark are evicted);
    the time-range predicate is what makes unbounded stream-stream inner
    join feasible at all.

    Inner-join matches are emitted in the micro-batch that finds them
    (watermarks only gate STATE EVICTION and outer-side NULL emission),
    so an availableNow catch-up run emits exactly the batch-join result
    — which is what the SQL twin verifies. Timestamps are compared at
    raw microsecond precision (same precedent as the sessionize
    oracle)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    base = _staged_stream(
        spark, events_path, out_path, checkpoint,
        n_input_files, max_files_per_trigger,
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    signups = (
        base.where("event_type = 'signup'")
        .select("user_id", F.col("ts").alias("signup_ts"))
        .withWatermark("signup_ts", "1 hour")
    )
    purchases = (
        base.where("event_type = 'purchase'")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = purchases.join(
        signups,
        (purchases.p_user == signups.user_id)
        & (purchases.purchase_ts >= signups.signup_ts)
        & (purchases.purchase_ts <= signups.signup_ts + F.expr(f"INTERVAL {horizon}")),
        "inner",
    )
    _run_available_now(
        joined, lambda df, _: df.write.mode("append").parquet(out_path), checkpoint
    )
    return spark.read.parquet(out_path).select(
        "purchase_id",
        "user_id",
        F.col("signup_ts").cast("timestamp_ntz").alias("signup_ts"),
        F.col("purchase_ts").cast("timestamp_ntz").alias("purchase_ts"),
    )


def _fold_state_stream(
    spark: SparkSession, src_path: str, schema: str, out_path: str,
    checkpoint: str, n_files: int, fresh: bool, fold,
) -> DataFrame:
    """The incremental-state loop behind the four state members
    (connected components, CountMin, portable HLL, KMV): one
    micro-batch per staged file, each folded into the materialized state
    as ``fold(batch_df, prev)`` — prev is the committed state, None
    before the first commit — so the state never rescans history.

    Exactly-once under foreachBatch replay: the folded state plus an
    `_applied` batch-id marker land in dirswap's scratch dir and are
    committed by dirswap.swap_in, with dirswap.recover up front and at
    the head of every batch, so neither crash window of the swap loses
    the state. A replayed batch sees batch_id ≤ marker and skips.
    Spark's parquet reader ignores underscore-prefixed files, so the
    marker travels inside the state directory itself — state and marker
    cannot diverge.

    fresh=True resets state and checkpoint and stages the input into
    n_files files; fresh=False restarts against both (_staged_stream)."""
    # up front as well as per-batch: a restart whose source has no new
    # files runs ZERO batches, and the final read still needs a whole
    # state if the previous run died mid-swap
    dirswap.recover(out_path)
    stream = _staged_stream(
        spark, src_path, out_path, checkpoint, n_files=n_files,
        max_files_per_trigger=1, schema=schema, fresh=fresh,
    )
    marker = os.path.join(out_path, "_applied")
    tmp = dirswap.tmp_of(out_path)

    def write_batch(batch_df, batch_id: int) -> None:
        dirswap.recover(out_path)
        if os.path.isfile(marker):
            with open(marker) as fh:
                if batch_id <= json.load(fh)["batch_id"]:
                    return  # replayed batch: already folded in
        prev = (
            batch_df.sparkSession.read.parquet(out_path)
            if os.path.isdir(out_path) else None
        )
        fold(batch_df, prev).write.mode("overwrite").parquet(tmp)
        with open(os.path.join(tmp, "_applied"), "w") as fh:
            json.dump({"batch_id": batch_id}, fh)
        dirswap.swap_in(tmp, out_path)

    _run_available_now(stream, write_batch, checkpoint)
    return spark.read.parquet(out_path)


EDGE_STREAM_SCHEMA = "src long, dst long"


def stream_component_assign(
    spark: SparkSession, edges_path: str, out_path: str, checkpoint: str,
    n_files: int = 3, fresh: bool = True,
) -> DataFrame:
    """Incrementally maintained connected components over a stream of
    edge DELTAS — streaming entity-merge maintenance for the KG: each
    micro-batch folds its edges into the materialized (node, comp)
    state with canonicalize.incremental_components, whose contraction
    argument guarantees every committed state is row-identical to a
    full CC recompute over all edges seen so far (asserted end-to-end
    by the batch-equivalence test, including merges ACROSS batches).
    Per-batch cost scales with the delta and the touched components,
    never with the edge history — the property that turns continuous
    KG entity resolution into a stream of delta jobs.

    Exactly-once under foreachBatch replay and crash-safe: see
    _fold_state_stream."""
    from ..operators.canonicalize import (
        connected_components,
        incremental_components,
    )

    def fold(batch_df, prev):
        delta = batch_df.select("src", "dst").where(
            F.col("src").isNotNull() & F.col("dst").isNotNull()
        )
        if prev is None:
            return connected_components(delta)
        return incremental_components(prev, delta)

    return _fold_state_stream(
        spark, edges_path, EDGE_STREAM_SCHEMA, out_path, checkpoint,
        n_files, fresh, fold,
    )


def stream_cms_counts(
    spark: SparkSession, events_path: str, out_path: str, checkpoint: str,
    depth: int = 4, width: int = 64,
    n_files: int = 3, fresh: bool = True,
) -> DataFrame:
    """Incrementally maintained CountMin frequency grid over a stream —
    the point-frequency member of the incremental-state family
    (connected components, frequencies, distinct counts, bottom-k): each
    micro-batch sketches its own rows (operators/sketches.cms_state over
    event_type values) and MERGES cell-wise into the materialized grid, so "how often has X occurred
    since the stream began" never rescans history and the state stays
    depth×width-sized forever.

    CMS is the right sketch to maintain this way because the grid is a
    pure function of the value MULTISET (grid(A∪B) = grid(A)+grid(B)
    cell-for-cell, no partition- or order-dependence), so the
    committed state after any batch
    split is row-identical to the direct sketch over all events so far,
    and a SQL oracle can replay it from the raw history.

    Exactly-once under foreachBatch replay and crash-safe: see
    _fold_state_stream."""
    from ..operators.sketches import cms_state, merge_cms_states

    def fold(batch_df, prev):
        delta = cms_state(batch_df, "event_type", depth=depth, width=width)
        return delta if prev is None else merge_cms_states(prev, delta)

    return _fold_state_stream(
        spark, events_path, EVENT_STREAM_SCHEMA, out_path, checkpoint,
        n_files, fresh, fold,
    )


def stream_hll_registers(
    spark: SparkSession, events_path: str, out_path: str, checkpoint: str,
    key_col: str = "event_type", value_col: str = "user_id", p: int = 10,
    n_files: int = 3, fresh: bool = True,
) -> DataFrame:
    """Incrementally maintained ENGINE-PORTABLE HLL registers over a
    stream — the distinct-count member of the incremental-state family
    (frequencies: stream_cms_counts, components: stream_component_assign):
    each micro-batch sketches its own rows
    (operators/sketches.portable_hll_state) and merges into the
    materialized register table by per-register MAX, so "how many
    distinct values since the stream began" never rescans history and
    the state stays ≤ keys×2^p rows forever.

    The portable sketch is the right one to maintain this way for the
    same reason CMS was: registers are a pure function of the value
    SET (max is associative, order- and partition-free), so the
    committed state after any batch split is row-identical to the
    direct sketch over all events so far — and because every register
    is md5-derived integer arithmetic, a SQL oracle can replay the
    maintained state AND the estimate bit-for-bit from raw history
    (the DataSketches binary in hll_state can't be checked this way).

    Exactly-once under foreachBatch replay and crash-safe: see
    _fold_state_stream."""
    from ..operators.sketches import (
        merge_portable_hll_states,
        portable_hll_state,
    )

    def fold(batch_df, prev):
        delta = portable_hll_state(batch_df, [key_col], value_col, p=p)
        return delta if prev is None else merge_portable_hll_states(prev, delta)

    return _fold_state_stream(
        spark, events_path, EVENT_STREAM_SCHEMA, out_path, checkpoint,
        n_files, fresh, fold,
    )


def stream_kmv_state(
    spark: SparkSession, events_path: str, out_path: str, checkpoint: str,
    key_col: str = "event_type", value_col: str = "user_id", k: int = 64,
    n_files: int = 3, fresh: bool = True,
) -> DataFrame:
    """Incrementally maintained KMV bottom-k sketch over a stream — the
    final member of the incremental-state family (CC, CountMin,
    portable-HLL registers, now bottom-k): each micro-batch
    sketches its own rows (operators/sketches.kmv_state) and merges by
    union → distinct → re-rank ≤ k, which is EXACT (bottom-k of a
    union is the bottom-k of the unioned bottom-k's), so the
    maintained state is row-identical to the direct sketch over all
    history — and, being md5 ranks, fully SQL-oracle-able. Keeping KMV
    maintained (not just HLL) is what preserves streaming
    set-INTERSECTION capability: kmv_jaccard over two maintained
    states answers "overlap between today's and last month's users"
    without rescanning either period.

    Exactly-once under foreachBatch replay and crash-safe: see
    _fold_state_stream."""
    from ..operators.sketches import kmv_state, merge_kmv_states

    def fold(batch_df, prev):
        delta = kmv_state(batch_df, [key_col], value_col, k=k)
        return delta if prev is None else merge_kmv_states(k, prev, delta)

    return _fold_state_stream(
        spark, events_path, EVENT_STREAM_SCHEMA, out_path, checkpoint,
        n_files, fresh, fold,
    )
