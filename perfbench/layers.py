"""Traced run: the campaign split into the engine's layers.

The run sets up like an untraced run but with the Spark event log on,
then runs one fused ``run_annotate``, the campaign an untraced run
times first. Against that untraced campaign, recorded for the same
workload, seed and code (harness.code_key), it gives the tracing
overhead; against the staged spans, the staging gap. Next it calls each
layer's public function in turn, inside a job group named after the
layer. Spark fuses lazy layers into one stage, so each layer's input is
persisted and counted before its span starts; the span then covers only
that layer's own work. Spans are kept in memory; the event log is folded
(eventlog.fold) after the session stops.

Besides the campaign layers, the ``campaign_text`` run also times the JVM
extraction twin and a micro-batch stream of the same text shape, and the
``campaign_entities`` run times the operator suite on the repository's
sf0.01 test tables (a copy is kept in ``perfbench/data``), so every layer
of the engine is measured on one workload.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import time
from contextlib import contextmanager

import gen
import procstat
from eventlog import fold_file
from harness import (
    HERE, N_PARTS, RUN_ID, WORK, code_key, dir_bytes, percentile, read_record,
    setup, stop_spark, tail_percentile, write_record,
)

STREAM_TURNS = 10_000
STREAM_FILES = 12
SF_DIR = os.path.join(HERE, "data", "sf0.01")
CARRIED_LEADS = ("kmv_type_users", "stream_cms_state")
GENERIC = ("cpu_s", "gc_s", "spill_bytes", "shuffle_read_bytes", "shuffle_write_bytes")
CAMPAIGN_LAYERS = ("sources", "pipeline", "extract", "link", "canonicalize", "materialize")


def suite_queries() -> list[str]:
    """The frozen bench's RELATIONAL list plus the carried performance
    leads, in that order."""
    import bench

    return list(bench.RELATIONAL) + list(CARRIED_LEADS)


def per_layer_names() -> list[str]:
    """Every per-layer metric a traced run reports, in report order."""
    specific = {
        "sources": ["busy_s", "rows"],
        "pipeline": ["shuffle_s"],
        "extract": ["busy_s", "python_s", "python_boot_s", "arrow_sent_bytes",
                    "mentions", "mentions_per_turn"],
        "extract_jvm": ["busy_s", "mentions"],
        "link": ["busy_s", "linked", "hit_ratio", "triples"],
        "canonicalize": ["busy_s", "nodes", "edges", "task_skew"],
        "materialize": ["sink_s", "manifest_s", "graph_s", "files_written", "bytes_written"],
        "streaming": ["trigger_s_p50", "trigger_s_tail", "add_batch_ms_p50",
                      "planning_ms_p50", "commit_ms_p50", "batches"],
        "operators": [f"{q}_s" for q in suite_queries()] + ["suite_s"],
    }
    names = []
    for layer, metrics in specific.items():
        names += [f"{layer}.{m}" for m in metrics] + [f"{layer}.{g}" for g in GENERIC]
    names += ["cache.mentions_bytes", "cache.spill_bytes"]
    names += ["trace.fused_s", "trace.staged_sum_s", "trace.gap_s",
              "trace.extract_share", "trace.graph_share"]
    return names


RATIOS = ("hit_ratio", "task_skew", "extract_share", "graph_share", "mentions_per_turn")


def unit_of(name: str) -> str:
    metric = name.split(".", 1)[1]
    if metric.endswith("_ms_p50"):
        return "ms"
    if metric.endswith(("_s", "_s_p50", "_s_tail")):
        return "s"
    if "bytes" in metric:
        return "B"
    return "ratio" if metric in RATIOS else "count"


class Spans:
    """Wall and process-tree CPU of each named span; the span name is also
    the Spark job group of every job started inside it."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.wall: dict[str, float] = {}
        self.cpu: dict[str, float] = {}

    @contextmanager
    def span(self, name: str):
        self.sc.setJobGroup(name, name)
        cpu0, t0 = procstat.tree_cpu_s(), time.perf_counter()
        try:
            yield
        finally:
            self.wall[name] = self.wall.get(name, 0.0) + time.perf_counter() - t0
            self.cpu[name] = self.cpu.get(name, 0.0) + procstat.tree_cpu_s() - cpu0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)


def _cached_rdds(spark) -> dict[int, tuple[int, int]]:
    """RDD id -> (memory + disk, disk) bytes of every cached RDD."""
    return {info.id(): (info.memSize() + info.diskSize(), info.diskSize())
            for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def staged_campaign(spark, lex, input_dir: str, n_turns: int, spans: Spans,
                    tally, extract_jvm: bool) -> dict:
    """Each campaign layer behind its own persisted input, wired as
    plans/pipeline.annotate and plans/materialize.run_annotate wire them
    (tests/test_perfbench.py holds the two to the same arguments)."""
    from pyspark.sql import functions as F

    from biosd_feature_annotator_spark.cache import scoped_persist
    from biosd_feature_annotator_spark.operators.canonicalize import canonicalize
    from biosd_feature_annotator_spark.operators.extract import extract_mentions
    from biosd_feature_annotator_spark.operators.link import (
        TRIPLE_COLS, best_link, link_entities, structural_triples,
        term_triples_from_linked, value_triples,
    )
    from biosd_feature_annotator_spark.plans.materialize import (
        fingerprint, materialize_graph, with_part_id,
    )
    from biosd_feature_annotator_spark.sources.lexicon import lexicon_df
    from biosd_feature_annotator_spark.sources.transcripts import read_transcripts

    from checks import check_campaign

    m: dict[str, float] = {}
    persisted = []
    ranked_linking = not lex.is_functional()

    def keep(df):
        persisted.append(df.persist())
        return persisted[-1]

    with spans.span("sources"):
        src0 = keep(read_transcripts(spark, os.path.join(input_dir, "input", "turns.parquet")))
        m["sources.rows"] = src0.count()
    # the shuffle run_annotate -> annotate puts in front of extraction
    with spans.span("pipeline"):
        src = keep(with_part_id(src0, N_PARTS).repartition(
            spark.sparkContext.defaultParallelism * 2, F.col("conv_id")))
        src.count()
    before = _cached_rdds(spark)
    with spans.span("extract"):
        mentions = scoped_persist(extract_mentions(src, lex), "pipeline.mentions")
        m["extract.mentions"] = mentions.count()
    m["extract.mentions_per_turn"] = m["extract.mentions"] / n_turns
    new = [v for k, v in _cached_rdds(spark).items() if k not in before]
    m["cache.mentions_bytes"] = sum(total for total, _ in new)
    m["cache.spill_bytes"] = sum(disk for _, disk in new)
    n_term = mentions.where(F.col("kind") == "term").count()
    if extract_jvm:
        from biosd_feature_annotator_spark.operators.extract_jvm import extract_mentions_jvm

        # persisted like the python extractor's output, so both spans
        # produce every mention column
        with spans.span("extract_jvm"):
            jvm = extract_mentions_jvm(spark, src, lex).persist()
            m["extract_jvm.mentions"] = jvm.count()
        jvm.unpersist()
    lex_df = lexicon_df(spark, lex)
    with spans.span("link"):
        linked = link_entities(mentions, lex_df)
        if ranked_linking:
            linked = best_link(linked)
        linked = keep(linked)
        m["link.linked"] = linked.count()
        extracted = term_triples_from_linked(linked).unionByName(value_triples(mentions))
        if ranked_linking:
            extracted = extracted.dropDuplicates(["subj", "pred", "obj"])
        triples = keep(extracted.unionByName(structural_triples(src)).select(*TRIPLE_COLS))
        m["link.triples"] = triples.count()
    m["link.hit_ratio"] = m["link.linked"] / n_term if n_term else 1.0
    with spans.span("canonicalize"):
        nodes, edges = canonicalize(linked, fixed_rounds=1 if not ranked_linking else None)
        nodes, edges = keep(nodes), keep(edges)
        m["canonicalize.nodes"] = nodes.count()
        m["canonicalize.edges"] = edges.count()
    out = os.path.join(WORK, "staged-out")
    shutil.rmtree(out, ignore_errors=True)
    triples_dir = os.path.join(out, "triples", f"run_id={RUN_ID}")
    # the sink statement of plans/materialize.run_annotate, on staged triples
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    with spans.span("materialize.sink"):
        (with_part_id(triples, N_PARTS).repartition("part_id").write
         .partitionBy("part_id").mode("overwrite").parquet(triples_dir))
    with spans.span("materialize.manifest"):
        written = spark.read.parquet(triples_dir)
        fingerprint(written, ["subj", "pred", "obj", "confidence"]).collect()
        manifest_rows = sum(r["n"] for r in fingerprint(
            src, ["conv_id", "turn_idx", "text"]).collect())
    with spans.span("materialize.graph"):
        materialize_graph({"nodes": nodes, "edges": edges}, out, RUN_ID)
    tally.record(check_campaign(out, RUN_ID, os.path.join(input_dir, "expected"),
                                n_turns, manifest_rows))
    m["materialize.files_written"], m["materialize.bytes_written"] = dir_bytes(out)
    for df in persisted:
        df.unpersist()
    return m


def stream_span(spark, lex, seed: int, spans: Spans, tally) -> tuple[dict, str]:
    """A drop directory of small files drained through annotate_stream,
    one file per trigger. Also returns the query's run id, which Spark
    uses as the job group of every micro-batch job."""
    from biosd_feature_annotator_spark.sources.transcripts import TRANSCRIPT_SCHEMA
    from biosd_feature_annotator_spark.streaming import annotate_stream

    from checks import check_stream

    root = os.path.join(WORK, "inputs", "stream")
    shutil.rmtree(root, ignore_errors=True)
    gen.write_stream(gen.campaign_text(seed, STREAM_TURNS), root, STREAM_FILES)
    out = os.path.join(WORK, "stream-out")
    ckpt = os.path.join(WORK, "stream-ckpt")
    for p in (out, ckpt):
        shutil.rmtree(p, ignore_errors=True)
    stream = (spark.readStream.schema(TRANSCRIPT_SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(os.path.join(root, "input", "drop")))
    with spans.span("streaming"):
        q = annotate_stream(spark, stream, lex, out, ckpt)
        q.awaitTermination()
    progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    tally.record(check_stream(out, os.path.join(root, "expected")))
    trig = [p["durationMs"]["triggerExecution"] / 1e3 for p in progress]
    tail_p = tail_percentile(len(trig))
    m = {
        "streaming.batches": len(progress),
        "streaming.trigger_s_p50": statistics.median(trig),
        "streaming.trigger_s_tail": percentile(trig, tail_p) if tail_p else max(trig),
    }
    for key, name in (("addBatch", "add_batch"), ("queryPlanning", "planning"),
                      ("commitOffsets", "commit")):
        m[f"streaming.{name}_ms_p50"] = statistics.median(
            p["durationMs"].get(key, 0) for p in progress)
    print(f"streaming tail = {'p%d' % tail_p if tail_p else 'max'} of {len(trig)} batches")
    return m, str(q.runId)


def operator_span(spark, spans: Spans, tally) -> dict:
    """The operator suite on the sf0.01 test tables: one untimed pass
    checked against each query's DuckDB twin, then one timed pass into the
    noop sink."""
    import duckdb

    import __spark_entry__ as entry

    from checks import check_query

    registry = entry._query_registry()
    oracles = {**entry.oracle_sql(), **entry.R6_QUEUE_ORACLES}
    con = duckdb.connect()
    for t in glob.glob(os.path.join(SF_DIR, "*.parquet")):
        name = os.path.basename(t)[: -len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}')")
    fns = {q: registry.get(q) or getattr(entry, f"q_{q}") for q in suite_queries()}
    for q, fn in fns.items():
        try:
            got = fn(spark, SF_DIR).toPandas()
            problems = check_query(q, got, con.sql(oracles[q]).df())
        except Exception as e:  # one broken query must not hide the others
            problems = [f"{q}: raised {type(e).__name__}: {e}"]
        tally.record(problems)
    con.close()
    m = {}
    for q, fn in fns.items():
        with spans.span(f"operators.{q}"):
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        m[f"operators.{q}_s"] = spans.wall[f"operators.{q}"]
    m["operators.suite_s"] = sum(m.values())
    shutil.rmtree(entry._stream_base("stream_cms"), ignore_errors=True)
    return m


def traced_run(workload: str, seed: int, input_dir: str, n_turns: int, tally) -> dict:
    log_dir = os.path.join(WORK, "eventlog")
    shutil.rmtree(log_dir, ignore_errors=True)
    spark, lex, campaign, _ = setup(workload, input_dir, n_turns, tally, event_log=log_dir)
    app_id = spark.sparkContext.applicationId
    # first after set-up, like the first campaign an untraced run times
    op = campaign.run()
    tally.record(op["problems"])
    spans = Spans(spark)
    m = staged_campaign(spark, lex, input_dir, n_turns, spans, tally,
                        extract_jvm=workload == "campaign_text")
    stream_group = None
    if workload == "campaign_text":
        sm, stream_group = stream_span(spark, lex, seed, spans, tally)
        m.update(sm)
    else:
        m.update(operator_span(spark, spans, tally))
    stop_spark(spark)

    table = fold_file(os.path.join(log_dir, app_id))
    if stream_group in table:
        table["streaming"] = table.pop(stream_group)
    wall = spans.wall
    m["sources.busy_s"] = wall["sources"]
    m["pipeline.shuffle_s"] = wall["pipeline"]
    for layer in ("extract", "extract_jvm", "link", "canonicalize"):
        if layer in wall:
            m[f"{layer}.busy_s"] = wall[layer]
    for part in ("sink", "manifest", "graph"):
        m[f"materialize.{part}_s"] = wall[f"materialize.{part}"]
    ext = table.get("extract", {})
    for col in ("python_s", "python_boot_s", "arrow_sent_bytes"):
        m[f"extract.{col}"] = ext.get(col, 0)
    m["canonicalize.task_skew"] = table.get("canonicalize", {}).get("task_skew", 0)
    for layer in ("sources", "pipeline", "extract", "extract_jvm", "link", "canonicalize",
                  "materialize", "streaming", "operators"):
        groups = [g for g in table if g == layer or g.startswith(layer + ".")]
        m[f"{layer}.cpu_s"] = sum(c for s, c in spans.cpu.items()
                                  if s == layer or s.startswith(layer + "."))
        for col in GENERIC[1:]:
            m[f"{layer}.{col}"] = sum(table[g][col] for g in groups)

    staged = sum(w for s, w in wall.items() if s.split(".")[0] in CAMPAIGN_LAYERS)
    m["trace.fused_s"] = op["wall_s"]
    m["trace.staged_sum_s"] = staged
    m["trace.gap_s"] = staged - op["wall_s"]
    m["trace.extract_share"] = wall["extract"] / staged
    m["trace.graph_share"] = (wall["link"] + wall["canonicalize"]
                              + wall["materialize.graph"]) / staged
    report_overhead(workload, seed, op["wall_s"])
    report_separation(workload, m)
    return {name: (m.get(name, 0), unit_of(name)) for name in per_layer_names()}


def report_overhead(workload: str, seed: int, traced_s: float) -> None:
    """Print the tracing overhead: this run's fused campaign against the
    first timed campaign of an untraced run of the same workload, seed and
    code. Both come first after the same set-up. Without such a run on
    record the overhead is absent."""
    untraced = read_record(f"untraced-{workload}-{seed}")
    if untraced is None:
        print(f"{'trace.overhead_frac':36s} {'absent':>16s} {'ratio':6s} n=0  "
              f"(no untraced run of {workload} seed {seed} at code {code_key()})")
        return
    print(f"{'trace.untraced_s':36s} {untraced['first_campaign_s']:16.6f} {'s':6s} n=1")
    print(f"{'trace.overhead_frac':36s} "
          f"{traced_s / untraced['first_campaign_s'] - 1:16.6f} {'ratio':6s} n=1")


def report_separation(workload: str, m: dict) -> None:
    """Record this workload's layer shares and, once both campaign
    workloads have a traced run on record at this code, print whether the
    predicted separation holds: the graph side (link + canonicalize + graph
    write) takes a larger share on campaign_entities, extraction a larger
    share on campaign_text."""
    write_record(f"shares-{workload}",
                 {k: m[k] for k in ("trace.extract_share", "trace.graph_share")})
    text = read_record("shares-campaign_text")
    ent = read_record("shares-campaign_entities")
    if text is None or ent is None:
        return
    g_ok = ent["trace.graph_share"] > text["trace.graph_share"]
    e_ok = text["trace.extract_share"] > ent["trace.extract_share"]
    print(f"separation: graph share entities {ent['trace.graph_share']:.3f} vs text "
          f"{text['trace.graph_share']:.3f} -> {'holds' if g_ok else 'does NOT hold'}; "
          f"extract share text {text['trace.extract_share']:.3f} vs entities "
          f"{ent['trace.extract_share']:.3f} -> {'holds' if e_ok else 'does NOT hold'}")
