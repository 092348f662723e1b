"""End-to-end annotation plan (SURVEY.md §3.4).

The declarative equivalent of the reference's imperative campaign
(AnnotateCmd → AnnotatorService thread pool → PropertyValAnnotationManager
→ AnnotatorPersister, SURVEY.md §3.1): one lazy DataFrame plan per output
table, shared subplans reused (the linked-mention frame feeds both the
triple stream and canonicalization).

Scale notes (the parts that matter at 100 TB):
- input is explicitly repartitioned by hash(conv_id) (BASELINE.json): one
  shuffle, after which extraction, structural triples and the per-subject
  windows are all partition-local.
- the lexicon travels once per executor (broadcast), never per row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.canonicalize import canonicalize
from ..operators.extract import extract_mentions
from ..operators.link import (
    best_link,
    link_entities,
    structural_triples,
    term_triples_from_linked,
    value_triples,
    TRIPLE_COLS,
)
from ..sources.lexicon import Lexicon, lexicon_df


def annotate(
    spark: SparkSession,
    transcripts: DataFrame,
    lex: Lexicon,
    repartition: int | None = None,
    build_graph: bool = True,
    cache_mentions: bool = True,
    extraction: str = "python",
) -> dict[str, DataFrame]:
    """Assemble the full plan; returns lazy DataFrames keyed by table name:
    mentions, extracted (the linked term triples plus the value triples,
    before the structural ones are unioned in), triples, and (if
    build_graph) nodes + edges.

    cache_mentions: the mention frame feeds two union branches (term vs
    value triples) and canonicalization — without a persist Spark would
    re-run the regex extraction once per consumer (measured 2-3× wall).
    MEMORY_AND_DISK so the 100 TB case degrades to local-disk spill; on a
    cluster a materialized intermediate table is the equivalent stage
    checkpoint. The stream passes False on purpose: uncached, a
    micro-batch's plan runs MapInPandas twice, yet the persist costs more
    at that size (720 synth turns, 4-core box: median 0.95 s per
    ``extracted`` write with it, 0.57 s without, 10 alternating runs;
    BENCH/one_plan_resume/probes.py). The option stays: its two callers
    need different values.

    extraction: "python" (the iterator-pandas-UDF extractor — default) or
    "jvm" (operators/extract_jvm — the whole-stage-codegen backend with
    zero Python workers; same triples on the engine's corpora, documented
    edge divergences in its module docstring). The campaign CLI runs the
    Python extractor only; the JVM twin is kept for bench.py's frozen
    ``extraction="jvm"`` arm, perfbench's traced ``extract_jvm`` layer and
    tools/scaling_bench.py."""
    # the one mandated shuffle (BASELINE.json): conversation co-location.
    # repartition=0 skips it — correct when the source is already laid out
    # by bucket(conv_id) (the Iceberg partition spec), reusing the storage
    # partitioning instead of re-shuffling 100 TB.
    if repartition == 0:
        src = transcripts
    else:
        n = repartition or spark.sparkContext.defaultParallelism * 2
        src = transcripts.repartition(n, F.col("conv_id"))

    if extraction == "jvm":
        from ..operators.extract_jvm import extract_mentions_jvm

        mentions = extract_mentions_jvm(spark, src, lex)
    else:
        mentions = extract_mentions(src, lex)
    if cache_mentions:
        # scoped (r5): a bare persist pinned one mention cache PER
        # INVOCATION for the session lifetime, and a re-invocation with
        # an equal plan was silently served from the previous run's
        # cache (CacheManager plan-equality — visible as "Asked to cache
        # already cached data" warnings in the r4 bench tail, which made
        # bench min-of-2 reps extraction-free). At most one live mention
        # cache now; a fresh annotate() drops the previous one first.
        # Note for callers holding an EARLIER annotate()'s lazy frames:
        # forcing them after a newer call re-derives mentions uncached —
        # correct results, just unmemoized.
        from ..cache import scoped_persist

        mentions = scoped_persist(mentions, "pipeline.mentions")
    lex_df = lexicon_df(spark, lex)
    # Lexicon.surface_map is a *function* surface→term and the extractor
    # dedupes mentions per turn (operators/extract._dedupe_turn), so the
    # unioned triple stream is already duplicate-free and the ranked
    # best-link window (W1) is a provable no-op — the hot path runs with
    # ZERO shuffles after the initial conv_id repartition. The proof only
    # holds while the dictionary is functional (one term per join key);
    # lex.is_functional() guards it at runtime: a multi-candidate
    # dictionary (two terms sharing a normalized label) silently loaded
    # into the fast path would fan the link join out and emit duplicate,
    # unranked triples — so W1 runs exactly for it.
    ranked_linking = not lex.is_functional()
    linked = link_entities(mentions, lex_df)
    if ranked_linking:
        linked = best_link(linked)
        # ranked path = multi-candidate dictionary: restore the global
        # (subj, pred, obj) dedup too — two surfaces may still rank to
        # the same term in one turn.
        extracted = (
            term_triples_from_linked(linked)
            .unionByName(value_triples(mentions))
            .dropDuplicates(["subj", "pred", "obj"])
        )
    else:
        extracted = term_triples_from_linked(linked).unionByName(
            value_triples(mentions)
        )
    triples = extracted.unionByName(structural_triples(src)).select(*TRIPLE_COLS)

    out: dict[str, DataFrame] = {
        "mentions": mentions, "extracted": extracted, "triples": triples,
    }
    if build_graph:
        # functional dictionary → the linking graph is a star forest
        # (every surface has exactly one term edge and term ids sort below
        # surface ids), so one propagation round already elects each
        # surface's term: canonicalize builds the nodes as a rollup by
        # term — one lazy aggregation per table, no component labelling,
        # checkpoint job or join. The ranked/multi-candidate path runs
        # the CC loop.
        nodes, edges = canonicalize(
            linked, fixed_rounds=1 if not ranked_linking else None
        )
        out["nodes"] = nodes
        out["edges"] = edges
    return out


def prewarm_extraction(spark: SparkSession, lex: Lexicon, like: DataFrame) -> None:
    """Pay the JVM extraction backend's one-time session costs before the
    first timed query: Janino compilation of the grammar's whole-stage
    codegen units, cached per JVM.

    ``like`` is a small slice of the real source relation: the generated
    classes embed the input plan's shape, so warming against the same
    relation leaves only per-literal units cold. Two passes: the first
    compiles, the second runs the fresh classes again so their JIT tiering
    lands in the warm-up too (local[32], 5k-term lexicon, ~900-turn slice:
    the first real query's gap over warm fell from ~3 s to ~1.7 s)."""
    for _ in range(2):
        annotate(spark, like, lex, build_graph=False, extraction="jvm")[
            "triples"
        ].count()
