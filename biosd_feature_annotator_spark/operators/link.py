"""Entity linking + predicate routing + triple assembly.

Mirrors the reference's OntoDiscoveryAndAnnotator → ZoomaOntoTermDiscoverer
confidence-ranked mapping (SURVEY.md §2.4 J2, §2.6 W1 — reconstructed) as a
pure DataFrame plan:

1. J1 memoization: the reference annotated each *distinct* normalized
   string once (Guava-Table store). Here the broadcast dictionary join
   gives the same set semantics without a cache: every mention probes the
   per-executor hash table of the lexicon, so a repeated surface costs one
   hash lookup, not a second annotation.
2. J2 dictionary lookup: broadcast hash join mentions ⋈ lexicon on
   (match_norm, match_kind). The dictionary is tiny relative to executor
   memory; at >broadcast-threshold dictionary sizes drop the hint and AQE
   falls back to sort-merge.
3. W1 best-link: min_by over (subj, match_norm) ordered by
   (conf desc, term_id) — the deterministic "keep the best ranked
   prediction" step (ZOOMA kept the top prediction above threshold).
4. P5 predicate routing: a when/otherwise chain, fully codegen'd —
   time-unit + age-context numbers become hasAge/hasAgeRange
   (FIXTURES.md §3.4), everything else hasNumber/hasRange/hasDate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .extract import TIME_UNITS, pred_when_chain

TRIPLE_COLS = [
    "subj", "pred", "obj", "obj_kind", "conf", "confidence", "unit",
    "provenance", "conv_id", "turn_idx",
]


def _dict_side(lex_df: DataFrame) -> DataFrame:
    """Size-aware join-side hint (r2 VERDICT gap 5): broadcast the
    dictionary only when its estimated plan size fits the session's
    autoBroadcastJoinThreshold; an oversized dictionary gets NO hint, so
    the planner/AQE degrades to shuffle/sort-merge instead of OOMing every
    executor with a forced broadcast. The estimate comes from Catalyst's
    own statistics (exact for the usual LocalRelation dictionary); if
    stats are unavailable (e.g. Spark Connect) we keep the broadcast hint
    — the historical behavior. A NEGATIVE threshold (-1, the standard way
    to disable broadcasting, typically set to prevent broadcast OOM) also
    drops the hint: an explicit opt-out must not be overridden by a
    forced broadcast."""
    try:
        size = int(
            lex_df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        threshold = _parse_bytes(
            lex_df.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold")
        )
    except Exception:
        return F.broadcast(lex_df)
    if threshold < 0 or threshold < size:
        return lex_df
    return F.broadcast(lex_df)


_BYTE_SUFFIX = {"": 1, "b": 1, "k": 1 << 10, "kb": 1 << 10, "m": 1 << 20,
                "mb": 1 << 20, "g": 1 << 30, "gb": 1 << 30, "t": 1 << 40,
                "tb": 1 << 40}


def _parse_bytes(s: str) -> int:
    """'10485760b' / '10MB' / '-1' → bytes (Spark byte-size conf syntax)."""
    s = str(s).strip().lower()
    i = len(s)
    while i > 0 and not s[i - 1].isdigit():
        i -= 1
    return int(s[:i]) * _BYTE_SUFFIX[s[i:].strip()]


def link_entities(mentions: DataFrame, lex_df: DataFrame) -> DataFrame:
    """Term mentions → scored candidate links (broadcast hash join while
    the dictionary fits the broadcast threshold — see _dict_side)."""
    terms = mentions.where(F.col("kind") == "term")
    return terms.join(
        _dict_side(lex_df), on=["match_norm", "match_kind"], how="inner"
    )


def best_link(scored: DataFrame) -> DataFrame:
    """Keep the best-confidence link per (subj, normalized surface);
    deterministic tie-break on term_id (SURVEY.md W1). Winner election
    is min_by over (-conf, term_id) instead of a row_number window
    (r6): identical row out (term_id is unique per candidate set, so
    the composite order is total), map-side combinable — no per-group
    sort of the full candidate relation."""
    return (
        scored.groupBy("subj", "match_norm")
        .agg(
            F.min_by(
                F.struct(*[F.col(c) for c in scored.columns]),
                F.struct((-F.col("conf")).alias("_nc"), F.col("term_id")),
            ).alias("_r")
        )
        .select("_r.*")
    )


def route_predicates(value_mentions: DataFrame) -> DataFrame:
    """P5: route number/range/date mentions to predicates — the Catalyst
    form of extract.PRED_ROUTING (single source of truth)."""
    is_age = F.col("age_ctx") & F.col("unit").isin(sorted(TIME_UNITS))
    return value_mentions.withColumn(
        "pred", pred_when_chain(F.col("kind"), is_age)
    )


def term_triples_from_linked(linked: DataFrame) -> DataFrame:
    return (
        linked.where(F.col("pred") != "(context)")
        .select(
            "subj",
            "pred",
            F.col("term_id").alias("obj"),
            F.lit("term").alias("obj_kind"),
            "conf",
            "confidence",
            F.lit(None).cast("string").alias("unit"),
            F.lit("link").alias("provenance"),
            "conv_id",
            "turn_idx",
        )
    )


def value_triples(mentions: DataFrame) -> DataFrame:
    vals = route_predicates(mentions.where(F.col("kind") != "term"))
    return vals.select(
        "subj",
        "pred",
        "obj",
        F.col("kind").alias("obj_kind"),
        F.lit(1.0).alias("conf"),
        F.lit("HIGH").alias("confidence"),
        "unit",
        F.lit("extract").alias("provenance"),
        "conv_id",
        "turn_idx",
    )


def structural_triples(transcripts: DataFrame) -> DataFrame:
    """g42/g43: every turn asserts saidBy; tool turns assert usesTool."""
    base = transcripts.select(
        F.concat_ws(":", "conv_id", "turn_idx").alias("subj"),
        "conv_id",
        "turn_idx",
        "role",
        "tool",
    )
    said = base.where(F.col("role").isNotNull()).select(
        "subj",
        F.lit("saidBy").alias("pred"),
        F.concat(F.lit("role:"), "role").alias("obj"),
        F.lit("role").alias("obj_kind"),
        F.lit(1.0).alias("conf"),
        F.lit("HIGH").alias("confidence"),
        F.lit(None).cast("string").alias("unit"),
        F.lit("structural").alias("provenance"),
        "conv_id",
        "turn_idx",
    )
    used = base.where(F.col("tool").isNotNull()).select(
        "subj",
        F.lit("usesTool").alias("pred"),
        F.concat(F.lit("tool:"), "tool").alias("obj"),
        F.lit("tool").alias("obj_kind"),
        F.lit(1.0).alias("conf"),
        F.lit("HIGH").alias("confidence"),
        F.lit(None).cast("string").alias("unit"),
        F.lit("structural").alias("provenance"),
        "conv_id",
        "turn_idx",
    )
    return said.unionByName(used)


def alias_priors(
    pairs: DataFrame,
    surface_col: str,
    entity_col: str,
) -> DataFrame:
    """Alias-prior table P(entity | surface) from observed (surface,
    entity) co-occurrences — the commonness prior every production
    entity linker combines with context scores (anchor-text priors in
    wikification): accumulate the engine's own link decisions (or any
    labeled mention set) and the next campaign starts from corpus
    statistics instead of a flat dictionary.

    One row per observed (surface, entity): n (exact count), n_surface
    (all observations of the surface), n_candidates (distinct entities
    seen for it), rank (by n desc, entity asc — deterministic), and
    the add-one smoothed prior as floored millionths:

        prior_micro = (n + 1)·1e6 // (n_surface + n_candidates)

    Smoothing keeps unseen-but-plausible candidates from being frozen
    at exactly zero when the table is later interpolated.

    Scale shape: one (surface, entity) combinable count — the only
    data-sized shuffle — then surface-partitioned window aggregates
    over the candidates-sized relation. A hot surface ("patient")
    costs its candidate count, not its observation count."""
    cnt = pairs.select(
        F.col(surface_col).alias("surface"),
        F.col(entity_col).alias("entity"),
    ).groupBy("surface", "entity").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("surface")
    wr = w.orderBy(F.desc("n"), F.asc("entity"))
    dec = "decimal(38,0)"
    enriched = cnt.select(
        "surface", "entity", "n",
        F.sum("n").over(w).alias("n_surface"),
        F.count(F.lit(1)).over(w).alias("n_candidates"),
        F.row_number().over(wr).cast("long").alias("rank"),
    )
    num = (F.col("n") + F.lit(1)).cast(dec) * F.lit(1_000_000).cast(dec)
    den = (F.col("n_surface") + F.col("n_candidates")).cast(dec)
    return enriched.withColumn(
        "prior_micro",
        ((num - F.pmod(num, den)) / den).cast("long"),
    )
