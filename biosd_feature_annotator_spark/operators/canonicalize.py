"""Canonicalization: entity merge onto ontology terms (SURVEY.md §2.5 A2).

The reference got entity uniqueness for free from DB constraints; at
transcript scale the engine must *merge* equivalent surface forms
distributively (BASELINE.json: "salted groupBy + connected-components-
style merge on normalized surface forms").

Graph: bipartite surface-node ↔ term-node edges from linked mentions.
Node ids are prefixed ('0:' terms, '1:' surfaces) so a term id sorts
below every surface id. canonicalize builds it two ways:

- functional dictionary (the default pipeline path): every surface links
  to exactly one term (Lexicon.is_functional), so the graph is a star
  forest and each component is a term plus its surfaces. The nodes
  table is then a rollup by term — one aggregation over the linked
  mentions, no component labelling at all.
- ranked, multi-candidate dictionary: components are computed with the
  classic hash-min label-propagation loop expressed purely in
  DataFrames, comp(v) ← min over neighbors-and-self of comp(...), with
  pointer jumping. Each round is one shuffle (groupBy node) followed by
  a localCheckpoint (lineage cut) and a short-circuit fixpoint probe —
  the driver-side loop is one Spark job per round and the only loop in
  the engine (SURVEY.md §3.4); max_iter caps it for general graphs.

Star components around hot entities are the skew case BASELINE.json
calls out. Both forms aggregate with plain groupBy: Spark's map-side
partial aggregation already is the two-phase salted aggregation (each
map task emits one row per key), so a hot term's reducer receives at
most #map-tasks rows. salted_min is the explicit two-phase form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def entity_stats(triples: DataFrame, with_exact: bool = False) -> DataFrame:
    """A3 hot-entity statistics: mention counts + approximate distinct
    subjects per object. approx_count_distinct (HLL) keeps the state
    per-group constant-size — the scale-safe form of the reference's
    progress counters.

    with_exact=True additionally emits the exact distinct-subject count
    and an in-query HLL tolerance flag (±5%) — the oracle-checkable form:
    a SQL engine verifies n_subjects exactly and the sketch is asserted
    against it in the same plan."""
    base = triples.where(F.col("obj_kind") == "term").groupBy("obj")
    if not with_exact:
        return base.agg(
            F.count("*").alias("n_mentions"),
            F.approx_count_distinct("subj").alias("approx_subjects"),
            F.countDistinct("pred").alias("n_preds"),
        )
    agg = base.agg(
        F.count("*").alias("n_mentions"),
        F.approx_count_distinct("subj").alias("approx_subjects"),
        F.countDistinct("subj").alias("n_subjects"),
        F.countDistinct("pred").alias("n_preds"),
    )
    return agg.select(
        "obj", "n_mentions", "n_subjects", "n_preds",
        (
            F.abs(F.col("approx_subjects") - F.col("n_subjects"))
            <= 0.05 * F.col("n_subjects")
        ).alias("hll_within_tol"),
    )


def salted_min(df: DataFrame, key: str, val: str, n_salt: int = 8) -> DataFrame:
    """Two-phase min aggregation (SURVEY.md J3): partial min on
    (key, salt) — map-side combinable and skew-proof — then final min on
    key. Result identical to df.groupBy(key).agg(min(val))."""
    return (
        df.withColumn("_salt", F.pmod(F.xxhash64(val), F.lit(n_salt)))
        .groupBy(key, "_salt")
        .agg(F.min(val).alias(val))
        .groupBy(key)
        .agg(F.min(val).alias(val))
    )


def connected_components(edges: DataFrame, max_iter: int = 10) -> DataFrame:
    """edges(src, dst) → (node, component) with component = min node id in
    the component. Deterministic at any parallelism.

    The SEED checkpoint stays: sym/comp are referenced several times per
    round (push + self-min + pointer-jump self-join), and without
    materialization the upstream edge derivation re-executes per
    reference — measured 3× slower than the probe loop it was meant to
    beat."""
    sym = edges.select("src", "dst").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    ctype = dict(sym.dtypes)["src"]
    comp = None
    for r in range(max_iter):
        if r == 0:
            # FUSED round 1 (r6 optimization): with the identity seed
            # comp(v)=v the first push+min round equals
            # min(self, min over neighbors), computable as ONE
            # aggregation over sym (every node appears as src in the
            # symmetric relation) — this replaces the seed distinct,
            # the seed checkpoint AND the round-1 join.
            agg = sym.groupBy(F.col("src").alias("node")).agg(
                F.min("dst").alias("_m")
            )
            new_comp = agg.select(
                "node",
                F.least(F.col("node"), F.col("_m")).alias("comp"),
                (F.col("_m") < F.col("node")).alias("_chg"),
            )
        else:
            # push each node's current comp to its neighbors, take min
            # incl. self; the self branch carries the old label so the
            # strict-decrease flag falls out of the same aggregation.
            pushed = (
                sym.join(comp, sym.src == comp.node)
                .select(F.col("dst").alias("node"), "comp",
                        F.lit(None).cast(ctype).alias("_old"))
                .unionByName(
                    comp.select("node", "comp",
                                F.col("comp").alias("_old"))
                )
            )
            agg = pushed.groupBy("node").agg(
                F.min("comp").alias("comp"), F.min("_old").alias("_old")
            )
            new_comp = agg.select(
                "node", "comp", (F.col("comp") < F.col("_old")).alias("_chg")
            )
        # pointer jumping (path compression): comp(v) ← comp(comp(v)).
        # Neighbor-min alone moves the min one hop per round (O(diameter));
        # with jumping each round roughly halves pointer depth → O(log n)
        # rounds even on path graphs. Both self-join sides share the
        # round aggregation's shuffle via ReuseExchange (same subtree,
        # same partitioning), so the min step is computed once per round
        # without an explicit persist — measured: a persist here
        # SERIALIZES the two join branches on cache materialization locks
        # (7.5-15 s vs 4-5 s per CC call at bench scale).
        x, y = new_comp.alias("x"), new_comp.alias("y")
        jumped = (
            x.join(y, F.col("x.comp") == F.col("y.node"), "left")
            .select(
                F.col("x.node").alias("node"),
                F.coalesce(F.col("y.comp"), F.col("x.comp")).alias("comp"),
                F.col("x._chg").alias("_chg"),
            )
            .localCheckpoint(eager=True)
        )
        # fixpoint probe, FUSED into the round aggregation (r6): labels
        # are monotone non-increasing under both the push-min and the
        # jump, so "some label strictly decreased in the min step"
        # (_chg) is equivalent to the old post-jump frame comparison —
        # min-step identity implies every label already equals its
        # component minimum (a stable assignment is constant per
        # component and bounded by the min node's own monotone label),
        # hence the jump is the identity too. The probe is a
        # short-circuit scan of the checkpointed frame instead of a join
        # job per round.
        changed = jumped.where(F.col("_chg")).limit(1).count()
        comp = jumped.select("node", "comp")
        if changed == 0:
            break
    return comp


def canonicalize(
    linked_mentions: DataFrame, fixed_rounds: int | None = None
) -> tuple[DataFrame, DataFrame]:
    """linked term mentions → (nodes, edges) graph tables.

    nodes(node_id, node_kind, canonical_label, aliases, n_mentions)
    edges(src, dst, rel, weight)

    fixed_rounds=1 (the pipeline's value) declares the functional-
    dictionary star forest (see plans/pipeline.annotate): one propagation
    round elects every surface's only term as its component, so the nodes
    table is the closed form of that round — a rollup of the linked
    mentions by term_id, with no component labelling, checkpoint or join.
    fixed_rounds=None runs the general connected_components loop (ranked,
    multi-candidate dictionaries, where one surface may link to several
    terms and merge them).
    """
    edges = (
        linked_mentions.groupBy(
            F.concat(F.lit("1:"), "match_norm").alias("src"),
            F.concat(F.lit("0:"), "term_id").alias("dst"),
        )
        .agg(F.count("*").cast("double").alias("weight"))
        .select("src", "dst", F.lit("linksTo").alias("rel"), "weight")
    )
    if fixed_rounds is not None:
        nodes = linked_mentions.groupBy("term_id").agg(
            F.min("term_label").alias("canonical_label"),
            F.sort_array(F.collect_set("match_norm")).alias("aliases"),
            F.count("*").alias("n_mentions"),
        ).select(
            F.col("term_id").alias("node_id"),
            F.lit("entity").alias("node_kind"),
            F.coalesce("canonical_label", "term_id").alias("canonical_label"),
            "aliases",
            "n_mentions",
        )
        return nodes, edges

    comp = connected_components(edges.select("src", "dst"))

    # per-component rollup: canonical id = the (term-first) min node id
    members = comp.withColumn(
        "surface",
        F.when(F.col("node").startswith("1:"), F.expr("substring(node, 3)")),
    )
    mention_counts = linked_mentions.groupBy(
        F.concat(F.lit("1:"), "match_norm").alias("node")
    ).agg(F.count("*").alias("n"))
    labels = linked_mentions.select(
        F.concat(F.lit("0:"), "term_id").alias("node"),
        F.col("term_label").alias("label"),
    ).dropDuplicates(["node"])

    nodes = (
        members.join(mention_counts, "node", "left")
        .join(labels, "node", "left")
        .groupBy("comp")
        .agg(
            F.sort_array(F.collect_set("surface")).alias("aliases"),
            F.sum(F.coalesce("n", F.lit(0))).alias("n_mentions"),
            F.min("label").alias("canonical_label"),
        )
        .select(
            F.expr("substring(comp, 3)").alias("node_id"),
            F.when(F.col("comp").startswith("0:"), F.lit("entity"))
            .otherwise(F.lit("surface"))
            .alias("node_kind"),
            F.coalesce(
                "canonical_label", F.expr("substring(comp, 3)")
            ).alias("canonical_label"),
            "aliases",
            "n_mentions",
        )
    )
    return nodes, edges


def fuzzy_pairs(
    df: DataFrame, id_col: str, text_col: str, max_dist: int = 2,
    block: str = "prefix", block_arg: int = 4, max_block: int | None = None,
) -> DataFrame:
    """Blocked fuzzy self-match: (a, b, dist) for every id pair a < b
    whose texts share a block key and sit within Levenshtein
    ``max_dist`` — the entity-resolution primitive that feeds
    connected_components when surface forms carry typos the exact /
    token matchers miss.

    Scale shape: candidate generation is an equi-join on the block key
    (``prefix``: lowered first ``block_arg`` chars — engine-portable,
    the oracle-checkable form; ``soundex``: phonetic, Spark-side only),
    so the join is hash-partitionable and NEVER all-pairs; the O(len²)
    Levenshtein only runs inside blocks. Like the MinHash banding,
    blocking trades recall for boundedness — a pair differing inside
    the block key is missed by construction (callers union several
    block functions for higher recall). ``max_block`` drops blocks with
    more members than the cap (the same hot-bucket guard as
    dedup.minhash's max_bucket): a degenerate key ("Customer#") would
    otherwise quadratically explode one reducer.
    """
    if block == "prefix":
        key = F.lower(F.substring(F.col(text_col), 1, block_arg))
    elif block == "soundex":
        key = F.soundex(F.col(text_col))
    else:
        raise ValueError(f"unknown block function: {block}")
    base = df.select(
        key.alias("blk"), F.col(id_col).alias("id"), F.col(text_col).alias("txt")
    )
    if max_block is not None:
        sizes = base.groupBy("blk").agg(F.count("*").alias("_n"))
        base = base.join(sizes.where(F.col("_n") <= max_block), "blk").drop("_n")
    a = base.select("blk", F.col("id").alias("a"), F.col("txt").alias("ta"))
    b = base.select("blk", F.col("id").alias("b"), F.col("txt").alias("tb"))
    return (
        a.join(b, "blk")
        .where(F.col("a") < F.col("b"))
        .select(
            "a", "b",
            F.levenshtein("ta", "tb").cast("long").alias("dist"),
        )
        .where(F.col("dist") <= max_dist)
    )


def train_fs_weights(
    pairs: DataFrame, agreement_cols: list[str], label_col: str,
    quant: int = 1_000_000,
) -> dict[str, tuple[int, int]]:
    """Fellegi-Sunter probabilistic record linkage, TRAINED: per-field
    agreement/disagreement log-likelihood-ratio weights estimated from
    labeled pairs — the statistically-grounded replacement for
    fuzzy_pairs' fixed edit-distance threshold when labeled match data
    exists (the same trained-replaces-hand-tuned discipline as
    textstats.train_langid and the BPE merge table).

    m_f = P(agree_f | match), u_f = P(agree_f | non-match), Laplace
    add-1/add-2 smoothed; w_agree = ln(m/u), w_disagree =
    ln((1-m)/(1-u)), each micro-quantized to a long (the repo's
    standard order-independent log kernel). Training is ONE aggregate
    pass over the pairs (2+2·F conditional sums, map-side combinable);
    the result is MODEL-sized — F weight pairs collected to the driver
    and folded into codegen literals by fs_score, exactly like the IVF
    centroid and Bloom-bitset literals."""
    is_m = F.col(label_col).cast("boolean")
    aggs = [
        F.sum(F.when(is_m, 1).otherwise(0)).alias("nm"),
        F.sum(F.when(~is_m, 1).otherwise(0)).alias("nu"),
    ]
    for c in agreement_cols:
        ag = F.col(c).cast("boolean")
        aggs.append(F.sum(F.when(is_m & ag, 1).otherwise(0)).alias(f"am_{c}"))
        aggs.append(F.sum(F.when(~is_m & ag, 1).otherwise(0)).alias(f"au_{c}"))
    row = pairs.agg(*aggs)
    exprs = []
    for c in agreement_cols:
        m = (F.col(f"am_{c}") + 1.0) / (F.col("nm") + 2.0)
        u = (F.col(f"au_{c}") + 1.0) / (F.col("nu") + 2.0)
        exprs.append(
            F.round(F.log(m / u) * F.lit(float(quant)))
            .cast("long").alias(f"wa_{c}")
        )
        exprs.append(
            F.round(F.log((1.0 - m) / (1.0 - u)) * F.lit(float(quant)))
            .cast("long").alias(f"wd_{c}")
        )
    r = row.select(*exprs).first()
    return {c: (r[f"wa_{c}"], r[f"wd_{c}"]) for c in agreement_cols}


def fs_score(
    pairs: DataFrame, weights: dict[str, tuple[int, int]],
    threshold_micro: int = 0,
) -> DataFrame:
    """Score candidate pairs with trained FS weights: score =
    Σ_f (agree_f ? w_agree_f : w_disagree_f), exact long arithmetic on
    the micro-quantized weights (no float order dependence), is_match =
    score > threshold. Pure per-row projection over the blocked
    candidate pairs — the decision layer between fuzzy_pairs' candidate
    generation and connected_components' merge."""
    score = None
    for c, (wa, wd) in weights.items():
        term = F.when(F.col(c).cast("boolean"), F.lit(wa)).otherwise(F.lit(wd))
        score = term if score is None else score + term
    if score is None:
        raise ValueError("no agreement fields")
    return pairs.withColumn("score_micro", score.cast("long")).withColumn(
        "is_match", F.col("score_micro") > F.lit(threshold_micro)
    )


def incremental_components(
    assign: DataFrame, new_edges: DataFrame, **cc_kwargs
) -> DataFrame:
    """Incremental connected-components maintenance: fold a DELTA edge
    set into an existing (node, comp) assignment WITHOUT recomputing
    the full graph — the KG-maintenance complement of
    materialize.diff_runs (daily triple deltas merge entities; at
    100 TB the delta touches a sliver of the component forest and the
    full edge history should never be rescanned).

    Exactness, not approximation: because connected_components labels
    every component with its MIN node id, contracting each delta-edge
    endpoint to its current label, running CC on the contracted graph
    (size ≈ touched components + brand-new nodes — delta-sized), and
    remapping yields LABEL-IDENTICAL output to a full recompute over
    (old ∪ new) edges: min over merged mins is the global min.
    Asserted row-for-row in tests and against the recursive-closure
    SQL oracle.

    Plan shape: two broadcast-friendly joins to resolve endpoints, the
    CC loop on the contracted graph, one join to remap old rows, one
    anti-join + join to admit new nodes. The full `assign` relation is
    never shuffled more than once (the comp-keyed remap join)."""
    a2 = assign.select(F.col("node").alias("src"), F.col("comp").alias("ca"))
    b2 = assign.select(F.col("node").alias("dst"), F.col("comp").alias("cb"))
    contracted = (
        new_edges.select("src", "dst")
        .join(a2, "src", "left")
        .join(b2, "dst", "left")
        .select(
            F.coalesce("ca", F.col("src")).alias("src"),
            F.coalesce("cb", F.col("dst")).alias("dst"),
        )
    )
    sub = connected_components(contracted, **cc_kwargs)
    relabel = sub.select(F.col("node").alias("comp"), F.col("comp").alias("newc"))
    updated = (
        assign.join(relabel, "comp", "left")
        .select("node", F.coalesce("newc", F.col("comp")).alias("comp"))
    )
    new_nodes = (
        new_edges.select(F.col("src").alias("node"))
        .unionByName(new_edges.select(F.col("dst").alias("node")))
        .distinct()
        .join(assign.select("node"), "node", "left_anti")
        .join(sub, "node")
        .select("node", "comp")
    )
    return updated.unionByName(new_nodes)


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    key_col: str,
    w: int = 3,
    prefix_len: int = 2,
) -> DataFrame:
    """EXACT sorted-neighborhood blocking → (id_l, id_r, dist): every
    pair of rows within w−1 positions of each other in the GLOBAL
    (key, id) sort order, dist = their position difference. The classic
    ER candidate generator complementing fuzzy_pairs' equi-blocking:
    equi-blocks miss near-misses that straddle a block boundary
    ("smith"/"smyth" under a first-2-chars block), while the sorted
    window catches whatever the sort key places adjacently — the two
    are run as passes of a multi-pass blocker and unioned.

    Exactness WITHOUT a global sort bottleneck — the decomposition the
    single-machine textbook version hides:
    - rows bucket by the key's fixed prefix (deterministic, unlike
      repartitionByRange's SAMPLED boundaries, and order-consistent:
      prefix(a) < prefix(b) ⇒ a < b, so buckets are contiguous runs of
      the global order);
    - SAME-BUCKET neighbors: w−1 lead() columns over one
      bucket-partitioned window (no self-join; global distance = rank
      distance because buckets are contiguous);
    - CROSS-BUCKET neighbors: only rows within w−1 of a bucket edge
      can participate (if a pair spans buckets, each row is within w−1
      of the facing edge), so candidates are ≤ 2(w−1)·#buckets rows;
      their true global positions come from bucket offsets (a
      cumulative-sum window over the BUCKET-SIZE relation — bucket-
      count-sized, the IVF-centroid small-relation discipline), and
      pairs come from the seg = gpos div w banding trick: Δ < w ⇒
      adjacent or equal segments, so TWO equi-joins on seg (seg, seg+1)
      replace the broadcast band inequality — shuffle-parallel at any
      bucket count. b_l ≠ b_r keeps the two pair sets disjoint.

    Every step is deterministic (fixed prefix, total (key, id) order,
    integer positions) and the SQL oracle is the NAIVE global
    row_number + band self-join — exact equality proves the
    decomposition. Requires unique ids and non-null keys (nulls are
    dropped; a NULL key has no meaningful sort neighbors)."""
    from pyspark.sql import Window

    base = (
        df.select(F.col(id_col).alias("id"), F.col(key_col).alias("key"))
        .where(F.col("key").isNotNull())
        .withColumn("b", F.substring("key", 1, prefix_len))
    )
    wb = Window.partitionBy("b").orderBy("key", "id")
    ranked = base.withColumn("rn", F.row_number().over(wb).cast("long"))

    # window expressions cannot sit inside a generator — materialize the
    # w−1 lead columns first, explode in a separate projection
    leads = ranked.select(
        "id",
        *[F.lead("id", j).over(wb).alias(f"_l{j}") for j in range(1, w)],
    )
    intra = (
        leads.select(
            "id",
            F.explode(
                F.array(*[
                    F.struct(
                        F.col(f"_l{j}").alias("id_r"),
                        F.lit(j).cast("long").alias("dist"),
                    )
                    for j in range(1, w)
                ])
            ).alias("p"),
        )
        .where(F.col("p.id_r").isNotNull())
        .select(F.col("id").alias("id_l"), "p.id_r", "p.dist")
    )

    sizes = ranked.groupBy("b").agg(F.count("*").alias("n"))
    # cumulative offsets over the bucket-size relation: bucket-count-
    # sized, so the unpartitioned window is a small-relation sort, not
    # a data-sized single-partition stage
    wo = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    offs = sizes.withColumn(
        "off", F.coalesce(F.sum("n").over(wo), F.lit(0)).cast("long")
    )
    cand = (
        ranked.join(F.broadcast(offs), "b")
        .where((F.col("rn") <= w - 1) | (F.col("rn") > F.col("n") - (w - 1)))
        .select("b", "id", (F.col("off") + F.col("rn")).alias("g"))
        .withColumn("seg", F.expr(f"g div {w}"))
    )
    cl = cand.select(
        F.col("b").alias("b_l"), F.col("id").alias("id_l"),
        F.col("g").alias("g_l"), F.col("seg").alias("seg_l"),
    )
    cross = None
    for shift in (0, 1):
        cr = cand.select(
            F.col("b").alias("b_r"), F.col("id").alias("id_r"),
            F.col("g").alias("g_r"),
            (F.col("seg") - shift).alias("seg_l"),
        )
        part = (
            cl.join(cr, "seg_l")
            .where(
                (F.col("b_l") != F.col("b_r"))
                & (F.col("g_r") > F.col("g_l"))
                & (F.col("g_r") - F.col("g_l") < w)
            )
            .select("id_l", "id_r", (F.col("g_r") - F.col("g_l")).alias("dist"))
        )
        cross = part if cross is None else cross.unionByName(part)
    return intra.unionByName(cross)


def truth_discovery(
    claims: DataFrame,
    source_col: str,
    subject_col: str,
    value_col: str,
) -> DataFrame:
    """Two-round truth discovery (knowledge-fusion / TruthFinder
    family, integer-exact): multiple sources assert conflicting values
    for the same subject — pick a consensus value per subject AND
    weight sources by how often they agree with it.

        round 1: unweighted majority vote per subject
                 (count desc, value asc tie-break — deterministic)
        reliability(source) = (matched + 1)·1e6 // (total + 2)
                 (add-one smoothed fraction of the source's claims that
                 match the round-1 consensus; smoothing keeps a
                 never-right source at a small positive weight instead
                 of silencing it, and the floored-millionths integer
                 form makes every weight engine-reproducible)
        round 2: re-vote with each claim weighted by its source's
                 reliability; consensus = argmax summed weight
                 (weight desc, value asc tie-break)

    Returns one row per subject: (subject, value, n_votes,
    weight_micro) — the round-2 winner, its supporting-claim count and
    summed reliability weight. Fixed two rounds ⇒ no convergence probe,
    no driver actions — the same discipline as pagerank.

    Scale shape: claims dedup (a source repeating itself is one vote),
    two (subject, value) vote aggregations and one source-keyed join —
    all map-side-combinable counts / long sums; the per-subject argmax
    is a window over the (subject, value) vote relation, which is
    values-sized, not claims-sized. Source skew (one crawler asserting
    half the claims) lands on the source-keyed reliability join, an
    ordinary hash join on a bounded-cardinality key."""
    # NOTE (r6, measured): the deduped claim relation feeds three
    # consumers, but they all hang off ONE action and share the
    # identical dropDuplicates exchange via ReuseExchange — an explicit
    # persist here measured SLOWER (4.1-7.8 s vs 3.0-3.4 s at sf0.1),
    # paying cache materialization for work Catalyst already dedups.
    c = claims.select(
        F.col(source_col).alias("source"),
        F.col(subject_col).alias("subject"),
        F.col(value_col).alias("value"),
    ).dropDuplicates()

    votes1 = c.groupBy("subject", "value").agg(
        F.count(F.lit(1)).alias("n")
    )
    # argmax via min_by over the composite (-n, value) instead of a
    # row_number window (r6): identical winner — min of -n is max of n,
    # and (subject, value) is unique in the vote relation so the
    # composite order is total — but the aggregation partial-combines
    # map-side and never sorts whole partitions (the window measured
    # 2.7 s of the 5.2 s sf1.0 wall on this relation alone).
    consensus1 = votes1.groupBy("subject").agg(
        F.min_by(
            "value", F.struct((-F.col("n")).alias("_nn"), F.col("value"))
        ).alias("value")
    )
    per_source = (
        c.join(
            consensus1.withColumn("_hit", F.lit(1)),
            ["subject", "value"], "left",
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("total"),
            F.sum(F.coalesce("_hit", F.lit(0))).alias("matched"),
        )
    )
    dec = "decimal(38,0)"
    rnum = (
        (F.col("matched") + F.lit(1)).cast(dec)
        * F.lit(1_000_000).cast(dec)
    )
    rden = (F.col("total") + F.lit(2)).cast(dec)
    rel = per_source.select(
        "source",
        ((rnum - F.pmod(rnum, rden)) / rden).cast("long")
        .alias("rel_micro"),
    )
    votes2 = (
        c.join(rel, "source")
        .groupBy("subject", "value")
        .agg(
            F.count(F.lit(1)).alias("n_votes"),
            F.sum("rel_micro").alias("weight_micro"),
        )
    )
    # same min_by argmax as round 1 — winner by (weight desc, value asc)
    win = votes2.groupBy("subject").agg(
        F.min_by(
            F.struct("value", "n_votes", "weight_micro"),
            F.struct(
                (-F.col("weight_micro")).alias("_nw"), F.col("value")
            ),
        ).alias("_w")
    )
    return win.select(
        "subject", "_w.value", "_w.n_votes", "_w.weight_micro"
    )
