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
- linking runs on the *deduplicated* (match_norm, match_kind) keys only if
  `memoize=True` (J1 semantics) — at transcript scale the same surface
  repeats millions of times; the dictionary join then fans results back by
  an equi-join on the same key, which AQE plans as broadcast when small.
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
    ranked_linking: bool = False,
    extraction: str = "python",
) -> dict[str, DataFrame]:
    """Assemble the full plan; returns lazy DataFrames keyed by table name:
    mentions, triples, and (if build_graph) nodes + edges.

    cache_mentions: the mention frame feeds two union branches (term vs
    value triples) and canonicalization — without a persist Spark would
    re-run the regex extraction once per consumer (measured 2-3× wall).
    MEMORY_AND_DISK so the 100 TB case degrades to local-disk spill; on a
    cluster a materialized intermediate table is the equivalent stage
    checkpoint.

    extraction: "python" (the iterator-pandas-UDF extractor — default) or
    "jvm" (operators/extract_jvm — the whole-stage-codegen backend with
    zero Python workers; same triples on the engine's corpora, documented
    edge divergences in its module docstring). The JVM backend is what the
    scaling bench measures at N vs 4N cores: it removes Arrow IPC and
    Python-worker contention from the scaling path."""
    # the one mandated shuffle (BASELINE.json): conversation co-location.
    # repartition=0 skips it — correct when the source is already laid out
    # by bucket(conv_id) (write_transcripts / the Iceberg partition spec),
    # reusing the storage partitioning instead of re-shuffling 100 TB.
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
    # unranked triples — so W1 is force-enabled for it.
    if not ranked_linking and not lex.is_functional():
        ranked_linking = True
    linked = link_entities(mentions, lex_df)
    if ranked_linking:
        linked = best_link(linked)
        # ranked path = multi-candidate dictionary: restore the global
        # triple-identity dedup too (assemble_triples' contract) — two
        # surfaces may still rank to the same term in one turn.
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

    out: dict[str, DataFrame] = {"mentions": mentions, "triples": triples}
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


def stable_triples(triples: DataFrame) -> DataFrame:
    """O1 deterministic output order for golden hashing / diffing."""
    return triples.orderBy("subj", "pred", "obj")


def prewarm_extraction(
    spark: SparkSession,
    lex: Lexicon,
    background: bool = False,
    like: DataFrame | None = None,
):
    """Pay the JVM extraction backend's one-time session costs UP FRONT —
    before the first real query — by running the full annotate plan over a
    one-row dummy corpus (r3 VERDICT ask #6).

    The backend's per-session fixed cost (~6-9 s at local[32]) is Janino
    whole-stage-codegen compilation of the grammar expression trees plus
    first-use py4j/parser warmup; both are cached per JVM, so after this
    call the first production query runs at warm-path cost (measured:
    first-real ≈ warm + 2 s on the committed corpus vs ≈ warm + 6 s
    uncold — the residual is AQE planning the real input's scan shape,
    which a dummy can't precompile). With background=True the warmup runs
    on a daemon thread so a job overlaps compilation with input
    listing/reading — the returned Thread lets callers join() before
    timing-sensitive work. Spark sessions schedule concurrent actions
    safely, so the only interaction is beneficial cache-filling."""
    import datetime
    import threading

    from ..sources.transcripts import TRANSCRIPT_SCHEMA

    def _run() -> None:
        if like is not None:
            # warm over a small slice of the REAL source relation: the
            # generated classes embed the input plan's shape, so warming
            # against the same relation leaves only per-literal stage-1
            # units cold for the first production query. TWO passes: the
            # first compiles the codegen units (Janino), the second runs
            # them again so JIT tiering of the freshly-loaded classes
            # also lands in warmup — measured (local[32], 5k-term
            # lexicon, ~900-turn slice): first-real gap over warm drops
            # from ~3 s (one pass) to ~1.7 s (two passes); the second
            # pass costs only the per-query fixed cost (~3 s).
            for _ in range(2):
                annotate(spark, like, lex, build_graph=False, extraction="jvm")[
                    "triples"
                ].count()
            return
        # a few hundred rows, not one: AQE plans a near-empty input into
        # DIFFERENT physical operators (empty-stats rewrites, eliminated
        # shuffles) whose generated classes the real query then cannot
        # reuse — measured: a 1-row warmup leaves ~60 codegen units cold.
        # Realistic row counts give the same join/agg strategies as a
        # real query and enough invocations for JIT tiering to start.
        dummy = spark.createDataFrame(
            [(
                f"warmup-conv-{i:04d}", i % 8, "user",
                "the sample weighs 5 kg at 37 celsius on 2020-01-01 "
                "between 3 and 9 years for homo sapiens",
                None, datetime.datetime(2020, 1, 1),
            ) for i in range(512)],
            TRANSCRIPT_SCHEMA,
        )
        # IMPORTANT: default repartition, NOT repartition=0 — the warmup
        # must go through the pipeline's standard conv_id shuffle so the
        # post-shuffle extraction stages (where all the expensive codegen
        # lives) compile to the SAME generated classes the first real
        # query needs; a fused single-stage dummy compiles different
        # units and leaves the real ones cold.
        annotate(spark, dummy, lex, build_graph=False, extraction="jvm")[
            "triples"
        ].count()

    def _run_bg() -> None:
        # a warmup failure must never take down the job, and if the main
        # thread already stopped the session the in-flight action's py4j
        # error is expected noise, not a defect — swallow it
        try:
            _run()
        except Exception:
            try:
                stopped = spark.sparkContext._jsc is None
            except Exception:
                stopped = True
            if not stopped:
                import logging

                logging.getLogger(__name__).warning(
                    "extraction prewarm failed (non-fatal)", exc_info=True
                )

    if background:
        t = threading.Thread(target=_run_bg, name="extraction-prewarm", daemon=True)
        t.start()
        return t
    _run()
    return None
