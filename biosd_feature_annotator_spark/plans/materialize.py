"""Graph materialization, lineage manifests, resume, purge
(SURVEY.md §2.1 S4/S6/S7, §2.4 J4).

The reference bulk-flushed annotations through Hibernate inside a DB
transaction (persistence/AnnotatorPersister — reconstructed); its resume
unit was the transaction. The engine's unit is the *partition*:

- triples land partitioned by (run_id, part_id) where
  part_id = pmod(xxhash64(conv_id), n_parts) — every conversation maps to
  exactly one part, so a part is a self-contained, idempotently
  re-writable unit (dynamic partition overwrite).
- after the write, one manifest row per part records lineage + metrics:
  input rows, emitted triples, an order-insensitive content fingerprint
  (bit_xor of row hashes), wall time. This is the parquet-backend stand-in
  for an Iceberg snapshot (SURVEY.md §7.3(1)); on a cluster the same code
  targets `df.writeTo(table).overwritePartitions()`.
- resume: the part ids present in the manifest with status=done are
  collected (at most n_parts ints) and filtered out of the triple write
  (J4) — a crashed run re-writes only missing parts, and re-writing a
  part is idempotent.
- purge (S7): drop one run's partition directories (Iceberg:
  DELETE WHERE run_id = ...).

Write amplification note for 100 TB: partitionBy(run_id, part_id) with
part_id pre-shuffled means each task writes exactly one partition dir —
no small-file explosion. n_parts should be ~#executor-cores × small
constant locally, thousands on a cluster.
"""

from __future__ import annotations

import datetime
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import dirswap
from ..session import local_frame
from ..sources.lexicon import Lexicon
from .pipeline import annotate

# The manifest store's schema, as existing stores hold it: wall_ms is an
# int (a file with a long wall_ms next to an int one can fail the read).
# wall_ms: milliseconds from the run_annotate call until the manifest rows
# are computed — extraction, linking, the triple sink and both
# fingerprints; not the manifest append or the nodes/edges write. ts: one
# UTC driver timestamp per invocation, taken at the same point.
MANIFEST_SCHEMA = (
    "run_id string not null, part_id int, status string not null, "
    "n_rows long not null, n_triples long not null, input_fingerprint long, "
    "triple_fingerprint long, wall_ms int not null, ts timestamp not null"
)


def with_part_id(df: DataFrame, n_parts: int) -> DataFrame:
    return df.withColumn(
        "part_id", F.pmod(F.xxhash64("conv_id"), F.lit(n_parts)).cast("int")
    )


def fingerprint(df: DataFrame, cols: list[str]) -> DataFrame:
    """Order-insensitive per-part content hash: bit_xor of per-row xxhash64.
    bit_xor never overflows (sum would, under ANSI mode) and is
    commutative — identical at any parallelism."""
    row_h = F.xxhash64(*[F.coalesce(F.col(c).cast("string"), F.lit("\0")) for c in cols])
    return (
        df.withColumn("_h", row_h)
        .groupBy("part_id")
        .agg(F.count("*").alias("n"), F.expr("bit_xor(_h)").alias("fp"))
    )


def manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "manifests")


def read_manifests(spark: SparkSession, out_dir: str) -> DataFrame | None:
    p = manifest_path(out_dir)
    dirswap.recover(p)
    if not os.path.exists(p):
        return None
    return spark.read.parquet(p)


def materialize_graph(
    tables: dict[str, DataFrame], out_dir: str, run_id: str
) -> None:
    """S4: write nodes/edges (triples go through run_annotate's
    partitioned path)."""
    for name in ("nodes", "edges"):
        tables[name].write.mode("overwrite").parquet(
            os.path.join(out_dir, name, f"run_id={run_id}")
        )


def run_annotate(
    spark: SparkSession,
    transcripts: DataFrame,
    lex: Lexicon,
    out_dir: str,
    run_id: str,
    n_parts: int = 32,
    resume: bool = False,
    build_graph: bool = True,
) -> DataFrame:
    """Annotate → partitioned triple sink + manifests. Returns the manifest
    rows written by THIS invocation (one per processed part; none when a
    resume finds every part done), as a local frame of the rows appended
    to the store — the store is not read back.

    resume=True skips the parts marked done in the manifest (J4). One
    annotate plan serves triples and graph: with the graph it covers the
    whole run and only the triple write skips the done parts; without it,
    only the undone parts are extracted.
    """
    t0 = time.time()
    run = with_part_id(transcripts, n_parts)
    m = read_manifests(spark, out_dir) if resume else None
    done = [] if m is None else [r.part_id for r in m.where(
        (F.col("run_id") == run_id) & (F.col("status") == "done")
    ).select("part_id").distinct().collect()]
    src = run.where(~F.col("part_id").isin(done)) if done else run

    plan = annotate(spark, run if build_graph else src, lex, build_graph=build_graph)
    # part_id is a pure function of conv_id — recompute on the output
    # rather than joining it back through the pipeline
    triples = with_part_id(plan["triples"], n_parts)
    if done:
        triples = triples.where(~F.col("part_id").isin(done))

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    (
        triples.repartition("part_id")
        .write.partitionBy("part_id")
        .mode("overwrite")
        .parquet(os.path.join(out_dir, "triples", f"run_id={run_id}"))
    )

    # manifest: metrics from what was actually written (read-back = the
    # strongest lineage evidence) joined to input counts; the left join
    # from the input keeps only the parts this invocation processed.
    # The declared schema (part_id included) spares a schema-inference job
    written = spark.read.schema(triples.schema).parquet(
        os.path.join(out_dir, "triples", f"run_id={run_id}")
    )
    t_fp = fingerprint(written, ["subj", "pred", "obj", "confidence"])
    i_fp = fingerprint(src, ["conv_id", "turn_idx", "text"])
    parts = (
        i_fp.withColumnRenamed("n", "n_rows").withColumnRenamed("fp", "input_fingerprint")
        .join(
            t_fp.withColumnRenamed("n", "n_triples").withColumnRenamed("fp", "triple_fingerprint"),
            "part_id",
            "left",
        )
        .select(
            "part_id",
            "n_rows",
            F.coalesce("n_triples", F.lit(0)).alias("n_triples"),
            "input_fingerprint",
            "triple_fingerprint",
        )
        .collect()
    )
    wall_ms = int((time.time() - t0) * 1000)
    ts = datetime.datetime.now(datetime.timezone.utc)
    manifest = local_frame(
        spark,
        [(run_id, r.part_id, "done", r.n_rows, r.n_triples, r.input_fingerprint,
          r.triple_fingerprint, wall_ms, ts) for r in parts],
        MANIFEST_SCHEMA,
    )
    dirswap.recover(manifest_path(out_dir))
    # one file per invocation: a local frame of n_parts rows would
    # otherwise be split across the default parallelism
    manifest.coalesce(1).write.mode("append").parquet(manifest_path(out_dir))

    if build_graph:
        materialize_graph(plan, out_dir, run_id)
    return manifest


def read_triples(spark: SparkSession, out_dir: str, run_id: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, "triples", f"run_id={run_id}"))


def diff_runs(
    spark: SparkSession, out_dir: str, run_a: str, run_b: str
) -> DataFrame:
    """Triple-level diff of two materialized runs: (change, subj, pred,
    obj) where change ∈ {added, removed} — added = in B not A, removed =
    in A not B. The KG-maintenance primitive: after re-annotating with a
    new dictionary or grammar, the diff IS the review set, and shipping
    `added` as inserts + `removed` as deletes turns a full re-run into an
    incremental update of a downstream store.

    Two left-anti joins on the (subj, pred, obj) identity — each shuffles
    only its probe side and nothing wider than the key columns; no full
    outer join materializing the union of both runs."""
    key = ["subj", "pred", "obj"]
    a = read_triples(spark, out_dir, run_a).select(*key).dropDuplicates(key)
    b = read_triples(spark, out_dir, run_b).select(*key).dropDuplicates(key)
    added = b.join(a, key, "left_anti").select(F.lit("added").alias("change"), *key)
    removed = a.join(b, key, "left_anti").select(
        F.lit("removed").alias("change"), *key
    )
    return added.unionByName(removed)


def apply_diff(base: DataFrame, diff: DataFrame) -> DataFrame:
    """Apply a diff_runs result to a base triple set: (base ∖ removed) ∪
    added — the CONSUMER half of the diff contract, turning a shipped
    delta back into the target state. Round-trip law (tested):
    apply_diff(A, diff_runs(A, B)) is set-identical to B, so a
    downstream store that replays deltas never drifts from a full
    re-materialization — the same recompute-equivalence discipline as
    incremental_components, here for the triple store itself.

    Shape: one left-anti join (keyed on the triple identity, probe side
    = base) + one union — removed/added are delta-sized, so at 100 TB
    this is a delta job, never a rescan of history. Duplicate-free on
    the identity by construction (base is de-duplicated on the key, and
    `added` is by definition absent from it)."""
    key = ["subj", "pred", "obj"]
    b = base.select(*key).dropDuplicates(key)
    removed = diff.where(F.col("change") == "removed").select(*key)
    added = diff.where(F.col("change") == "added").select(*key)
    return b.join(removed, key, "left_anti").unionByName(added)


def _rewrite_manifests(spark: SparkSession, out_dir: str, keep) -> None:
    """Rewrite the manifest store keeping only rows matching `keep` —
    write-to-temp + dirswap.swap_in, never overwrite-in-place while
    reading (manifests are metadata-sized; on Iceberg this is a metadata
    DELETE)."""
    p = manifest_path(out_dir)
    dirswap.recover(p)
    if not os.path.exists(p):
        return
    tmp = dirswap.tmp_of(p)
    spark.read.parquet(p).where(keep).write.mode("overwrite").parquet(tmp)
    dirswap.swap_in(tmp, p)


def purge_run(out_dir: str, run_id: str, spark: SparkSession) -> None:
    """S7: drop one run's data and manifest rows (local parquet backend:
    remove partition dirs; Iceberg backend: DELETE FROM ... WHERE
    run_id=...).

    Stale status='done' rows would make a later resume=True of the same
    run_id skip every part and silently produce no output while
    reporting success. The manifest rows go first: a crash between the
    two steps leaves data with no manifest rows, which a resume
    re-processes, never status='done' rows with no data."""
    _rewrite_manifests(spark, out_dir, F.col("run_id") != run_id)
    for name in ("triples", "nodes", "edges"):
        p = os.path.join(out_dir, name, f"run_id={run_id}")
        if os.path.exists(p):
            shutil.rmtree(p)


def purge_older_than(spark: SparkSession, out_dir: str, cutoff) -> list[str]:
    """Retention purge (the reference's age-based annotation cleanup,
    SURVEY.md §3.3): drop every run whose NEWEST manifest row is older
    than `cutoff` (a timestamp or ISO string), data + manifests. Returns
    the purged run_ids."""
    m = read_manifests(spark, out_dir)
    if m is None:
        return []
    old = (
        m.groupBy("run_id")
        .agg(F.max("ts").alias("newest"))
        .where(F.col("newest") < F.lit(cutoff).cast("timestamp"))
        .select("run_id")
        .collect()
    )
    run_ids = sorted(r.run_id for r in old)
    for rid in run_ids:
        purge_run(out_dir, rid, spark=spark)
    return run_ids


def partial_agg_state(df: DataFrame, keys: list[str], value_col: str) -> DataFrame:
    """Mergeable per-key aggregate state: (keys..., cnt, total, vmin,
    vmax). The incremental-maintenance half of a materialized aggregate:
    each run materializes its OWN partial state, and merge_agg_states
    combines any number of them without touching raw rows — count/sum/
    min/max are the classic commutative-monoid aggregates, so merging
    partials is exact (the same algebra Spark's partial aggregation uses
    inside a single shuffle, lifted to cross-RUN granularity). At 100 TB
    this is how run-level stats stay O(distinct keys) instead of
    re-scanning every run's raw triples."""
    return df.groupBy(*keys).agg(
        F.count(value_col).alias("cnt"),
        F.sum(value_col).alias("total"),
        F.min(value_col).alias("vmin"),
        F.max(value_col).alias("vmax"),
    )


def merge_agg_states(states: list[DataFrame], keys: list[str]) -> DataFrame:
    """Merge partial states from several runs into one exact aggregate —
    a union + one map-side-combinable re-aggregate (never a join chain):
    counts/sums add, min/max fold."""
    u = states[0]
    for s in states[1:]:
        u = u.unionByName(s)
    return u.groupBy(*keys).agg(
        F.sum("cnt").alias("cnt"),
        F.sum("total").alias("total"),
        F.min("vmin").alias("vmin"),
        F.max("vmax").alias("vmax"),
    )
