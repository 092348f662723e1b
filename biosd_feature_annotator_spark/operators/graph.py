"""Graph traversal over the materialized triple tables.

The engine's KG output is an edge list (subj, pred, obj); the first thing
a consumer does with a knowledge graph is neighborhood expansion —
"everything within k hops of this entity". k-hop is expressed as iterated
frontier joins, the standard distributed BFS shape:

- the frontier (nodes discovered at hop i) joins the edge list once per
  hop — k small equi-joins, never a transitive-closure blowup;
- visited-set dedup is a left-anti join against the accumulated result,
  so each node is expanded exactly once (min-hop semantics, and the join
  input stays proportional to the NEW frontier, not the whole graph);
- at cluster scale the edge list is the big side (hash-partitioned by
  src), while the frontier is usually small → Spark broadcasts it
  automatically under the join threshold, making each hop a map-side
  join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def khop(
    edges: DataFrame, seeds: DataFrame, k: int,
    directed: bool = False,
) -> DataFrame:
    """edges(src, dst) + seeds(node) → (node, hop) for every node within
    k hops of any seed; hop = minimum distance (seeds are hop 0).
    Deterministic at any parallelism."""
    sym = edges.select("src", "dst")
    if not directed:
        sym = sym.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    reached = seeds.select(F.col("node")).dropDuplicates().withColumn(
        "hop", F.lit(0).cast("long")
    )
    frontier = reached.select("node")
    for i in range(1, k + 1):
        nxt = (
            frontier.join(sym, frontier.node == sym.src)
            .select(F.col("dst").alias("node"))
            .dropDuplicates()
            .join(reached.select("node"), "node", "left_anti")
            .withColumn("hop", F.lit(i).cast("long"))
        )
        reached = reached.unionByName(nxt)
        frontier = nxt.select("node")
    return reached


def pagerank(
    edges: DataFrame, n_nodes: int, iters: int = 3, damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank over edges(src, dst) → (node, pr):
    pr_{k+1}(v) = (1-d)/N + d · Σ_{u→v} pr_k(u)/outdeg(u), seeded 1/N.
    Entity-importance ranking for the KG output — the weighted-iteration
    companion of connected_components.

    Deterministic by construction: a FIXED iteration count (no
    convergence probe ⇒ no driver actions in the loop), and the simple
    dangling-node variant (their mass decays rather than redistributing —
    avoiding a per-iteration global aggregate; documented, and replicated
    exactly by the SQL oracle). Each iteration is one join + one
    partial-aggregated shuffle keyed by dst — the same per-round profile
    as CC.

    n_nodes is passed in rather than counted here, keeping plan
    construction action-free (the caller either knows |V| from its
    catalog/manifest or pays one small count job)."""
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .dropDuplicates()
    )
    outdeg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    base = F.lit((1.0 - damping) / n_nodes)
    pr = nodes.withColumn("pr", F.lit(1.0 / n_nodes))
    for _ in range(iters):
        contrib = (
            edges.join(pr, edges.src == pr.node)
            .join(outdeg, "src")
            .select(F.col("dst").alias("node"), (F.col("pr") / F.col("outdeg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        pr = nodes.join(contrib, "node", "left").select(
            "node", (base + F.lit(damping) * F.coalesce("inflow", F.lit(0.0))).alias("pr")
        )
    return pr


def triangle_counts(edges: DataFrame, a: str = "a", b: str = "b") -> DataFrame:
    """Per-node triangle participation counts over an undirected edge
    list → (node, n_triangles). The KG/near-dup-graph density probe: a
    node in many triangles sits in a tightly-bound cluster (duplicate
    nest, entity community), one in none is a stray pair.

    Distributed shape — the standard oriented wedge-close, never an
    all-pairs product:
    - edges are canonicalized to u < v (dedup'd), so each triangle
      x<y<z is generated exactly once as the wedge (x,y)+(y,z) closed
      by the edge (x,z);
    - wedge build = one self-equi-join on the shared endpoint; closure =
      one more equi-join against the (hash-partitioned) edge list. Both
      shuffle at most the edge list's width — at cluster scale the
      orientation (only u<v wedges) is what keeps high-degree hubs from
      exploding: a degree-d node contributes C(d,2) wedges total across
      BOTH orders, but only pairs ordered above it after
      canonicalization here;
    - per-node counts = explode the 3 corners + one map-side-combinable
      count.
    """
    # NOT persisted (r6, measured 3.6 s -> 1.46 s on the MinHash-graph
    # bench fixture): the three join sides all end in the identical
    # canonicalize+dropDuplicates exchange, which ReuseExchange
    # computes once — even an expensive upstream (the full MinHash
    # candidate generation here) runs a single time without the cache
    # round-trip, and the planner keeps real size stats.
    e = (
        edges.select(
            F.least(F.col(a), F.col(b)).alias("u"),
            F.greatest(F.col(a), F.col(b)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
    )
    wedge = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.v") == F.col("e2.u"))
        .select(
            F.col("e1.u").alias("x"), F.col("e1.v").alias("y"),
            F.col("e2.v").alias("z"),
        )
    )
    tri = wedge.join(
        e.alias("e3"),
        (F.col("x") == F.col("e3.u")) & (F.col("z") == F.col("e3.v")),
    ).select("x", "y", "z")
    return (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )


def label_propagation(
    edges: DataFrame, iters: int = 3,
    a: str = "src", b: str = "dst", directed: bool = False,
) -> DataFrame:
    """Community detection by synchronous label propagation over
    edges(a, b) → (node, label). Labels seed as the node's own id; each
    iteration every node adopts the most frequent label among its
    neighbors, ties broken by the SMALLEST label — so the algorithm is
    fully deterministic (the classic asynchronous LPA is run-order
    dependent; this is the deterministic semi-synchronous variant, the
    same determinism discipline as pagerank's fixed iterations).

    Per iteration: one equi-join (neighbor label lookup), one
    map-side-combinable count shuffle keyed by (node, label), one
    per-node window for the argmax — all partitioned by node, no
    all-pairs stage, no driver actions in the loop. Isolated or
    degree-0-this-direction nodes keep their current label (left join +
    coalesce). Fixed iteration count keeps the loop action-free and the
    result engine-replicable (unrollable as per-iteration SQL CTEs for
    an r6 oracle twin)."""
    sym = edges.select(F.col(a).alias("src"), F.col(b).alias("dst"))
    if not directed:
        sym = sym.unionByName(
            edges.select(F.col(b).alias("src"), F.col(a).alias("dst"))
        )
    sym = sym.where(F.col("src") != F.col("dst")).dropDuplicates()
    nodes = (
        sym.select(F.col("src").alias("node"))
        .unionByName(sym.select(F.col("dst").alias("node")))
        .dropDuplicates()
    )
    labels = nodes.withColumn("label", F.col("node"))
    for _ in range(iters):
        counts = (
            sym.join(labels.withColumnRenamed("node", "dst"), "dst")
            .select(F.col("src").alias("node"), "label")
            .groupBy("node", "label")
            .agg(F.count("*").alias("n"))
        )
        # argmax via min_by over (-n, label) instead of a row_number
        # window (r6): identical winner — (node, label) is unique in the
        # vote relation so the composite order is total — and the
        # aggregation partial-combines map-side with no per-node sort.
        best = counts.groupBy("node").agg(
            F.min_by(
                "label", F.struct((-F.col("n")).alias("_nn"), F.col("label"))
            ).alias("new_label")
        )
        labels = labels.join(best, "node", "left").select(
            "node", F.coalesce("new_label", "label").alias("label")
        )
    return labels


def neighborhood_similarity(
    edges: DataFrame, a: str = "src", b: str = "dst",
    min_common: int = 1, max_deg: int | None = None, quant: int = 10 ** 6,
) -> DataFrame:
    """Structural entity similarity over an undirected edge list →
    (node_a, node_b, cn, deg_a, deg_b, aa_micro) for every pair sharing
    ≥ min_common neighbors. The KG entity-resolution / link-prediction
    primitive: two entity nodes whose neighborhoods largely coincide are
    duplicate candidates (feed canonicalize.connected_components), and a
    high Adamic-Adar score predicts a missing edge.

    Three scores from ONE pass, each exact or order-free:
    - cn = |N(a)∩N(b)| (exact integer);
    - deg_a/deg_b expose Jaccard as integer rational arithmetic —
      threshold τ=num/den via cn·den ≥ num·(deg_a+deg_b−cn), never a
      float division (the containment_pairs discipline);
    - aa_micro = Σ_{z∈N(a)∩N(b)} round(quant/ln(deg z)) — Adamic-Adar
      with the per-z weight micro-quantized to a long ONCE, so the sum
      is an exact integer in any accumulation order (the PMI/fluency
      kernel). ln(deg z) > 0 always: a wedge center has deg ≥ 2.

    Distributed shape — the triangle_counts wedge, never all-pairs:
    candidate pairs are generated by a self-equi-join on the shared
    neighbor z (hash-partitioned by z), then one map-side-combinable
    (count, sum) shuffle keyed by the canonical pair (node_a < node_b),
    then two node-sized degree joins. max_deg drops hub CENTERS before
    wedging — a degree-d hub contributes C(d,2) pairs, and its AA weight
    quant/ln(d) is the least informative (Adamic-Adar's own rationale),
    so the cap is the standard scale guard (max_bucket/max_df
    discipline; documented underestimate: cn/aa can only shrink, and
    deg columns are UNCAPPED true degrees)."""
    sym = edges.select(F.col(a).alias("src"), F.col(b).alias("dst"))
    sym = sym.unionByName(
        edges.select(F.col(b).alias("src"), F.col(a).alias("dst"))
    )
    nbr = (
        sym.where(F.col("src") != F.col("dst"))
        .dropDuplicates()
        .select(F.col("src").alias("z"), F.col("dst").alias("x"))
    )
    deg = nbr.groupBy("z").agg(F.count("*").alias("deg"))
    # deg-1 centers cannot form a wedge — drop them BEFORE the weight
    # projection (ln(1) = 0 would divide by zero under ANSI mode) and
    # before the self-join (prunes the join input)
    wz = nbr.join(deg, "z").where(F.col("deg") >= F.lit(2))
    if max_deg is not None:
        wz = wz.where(F.col("deg") <= F.lit(max_deg))
    wz = wz.select(
        "z", "x",
        F.expr(f"CAST(round({quant} / ln(deg)) AS BIGINT)").alias("w"),
    )
    pairs = (
        wz.alias("l")
        .join(wz.alias("r").select("z", F.col("x").alias("y")), "z")
        .where(F.col("x") < F.col("y"))
        .groupBy(F.col("x").alias("node_a"), F.col("y").alias("node_b"))
        .agg(F.count("*").alias("cn"), F.sum("w").alias("aa_micro"))
        .where(F.col("cn") >= F.lit(min_common))
    )
    return (
        pairs.join(
            deg.select(F.col("z").alias("node_a"), F.col("deg").alias("deg_a")),
            "node_a",
        )
        .join(
            deg.select(F.col("z").alias("node_b"), F.col("deg").alias("deg_b")),
            "node_b",
        )
        .select("node_a", "node_b", "cn", "deg_a", "deg_b", "aa_micro")
    )


def k_core(
    edges: DataFrame, k: int, iters: int = 8,
    a: str = "src", b: str = "dst",
) -> DataFrame:
    """k-core decomposition by fixed-round peeling over an undirected
    edge list → (node, deg): the nodes surviving `iters` rounds of
    "drop every node with degree < k in the CURRENT subgraph", with
    their degree inside that subgraph. The KG density filter: the
    k-core is where real entity communities live; degree-1 tendrils
    and weakly-attached noise peel away (a plain degree≥k filter keeps
    chains of mutually-dependent weak nodes the peeling removes).

    Fixed iteration count — the pagerank/LPA determinism discipline: no
    convergence probe ⇒ no driver actions in the loop, and the result
    is SQL-unrollable (one CTE per round) for an oracle twin. Peeling
    is monotone (survivor sets only shrink) and converges in ≤ |V|
    rounds, in practice a handful; callers size iters to their graph's
    peel depth, and a converged run is idempotent under more rounds
    (asserted in tests).

    Per round the survivor edge list is referenced ONCE — both endpoint
    degrees come from two window counts (partition by src, then by dst)
    and the filter keeps rows whose BOTH endpoints clear k; symmetry
    makes this exactly "drop every edge touching a sub-k node". The
    obvious agg + two-semi-join round references the edge list three
    times, and with no common-subexpression sharing across a logical
    plan the tree grows 3^iters — catalyst analysis, not the data,
    becomes the bottleneck (measured: iters=8 on a 5-edge fixture never
    finishes planning). The window round costs two node-keyed shuffles
    of the edge list (vs agg+semi's three) and keeps plan growth
    LINEAR in iters."""
    from pyspark.sql import Window

    e0 = edges.select(F.col(a).alias("src"), F.col(b).alias("dst"))
    e0 = (
        e0.unionByName(
            edges.select(F.col(b).alias("src"), F.col(a).alias("dst"))
        )
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates()
    )
    live = e0
    kk = F.lit(k).cast("long")
    for _ in range(iters):
        live = (
            live.withColumn(
                "deg_s", F.count(F.lit(1)).over(Window.partitionBy("src"))
            )
            .withColumn(
                "deg_d", F.count(F.lit(1)).over(Window.partitionBy("dst"))
            )
            .where((F.col("deg_s") >= kk) & (F.col("deg_d") >= kk))
            .select("src", "dst")
        )
    return (
        live.groupBy(F.col("src").alias("node"))
        .agg(F.count("*").alias("deg"))
        .where(F.col("deg") >= kk)
    )


def hits(
    edges: DataFrame, iters: int = 3, quant: int = 10 ** 9,
) -> DataFrame:
    """Fixed-iteration HITS over DIRECTED edges(src, dst) →
    (node, hub_q, auth_q) in 1/quant units: authority = endorsed by good
    hubs (Σ hub over in-edges), hub = endorses good authorities (Σ auth
    over out-edges). The directed complement of pagerank for KG entity
    ranking — a subject that links many high-authority objects is a hub
    (aggregator conversations), a much-linked object is an authority
    (canonical entities).

    INTEGER-MASS semantics throughout (the personalized_pagerank
    strengthening): scores are longs, each half-step is one equi-join +
    one map-side-combinable long-sum shuffle, so every value is
    independent of partitioning and accumulation order BY CONSTRUCTION.
    Normalization — HITS diverges without it — uses the exact-integer
    L1 analogue: n_q = max(1, Σscore div quant); score ← score div n_q.
    This avoids the score·quant product of the textbook rescale, which
    overflows int64 once Σscore approaches 2^63/quant — at web-scale
    edge counts that product is the real hazard, while div-first keeps
    every intermediate ≤ Σscore. Both the global sum and the division
    are folded in-plan via a broadcast single-row crossJoin (no driver
    actions in the loop), and the oracle unrolls the identical floor
    divisions per iteration. Nodes with no in-edges hold auth 0;
    no out-edges, hub 0 (left join + coalesce)."""
    if iters < 1:
        raise ValueError("hits requires iters >= 1")
    e = edges.select("src", "dst").dropDuplicates()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .dropDuplicates()
    )
    hub = nodes.withColumn("hub_q", F.lit(quant).cast("long"))
    auth = None
    for _ in range(iters):
        auth_raw = (
            e.join(hub.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("hub_q").alias("s"))
        )
        auth = _l1_quant(nodes, auth_raw, "auth_q", quant)
        hub_raw = (
            e.join(auth.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("auth_q").alias("s"))
        )
        hub = _l1_quant(nodes, hub_raw, "hub_q", quant)
    return nodes.join(hub, "node").join(auth, "node").select(
        "node", "hub_q", "auth_q"
    )


def _l1_quant(nodes: DataFrame, raw: DataFrame, out: str, quant: int) -> DataFrame:
    """(node, s) → (node, out): floor-divide by n_q = max(1, Σs div
    quant), the overflow-safe exact-integer L1 rescale (see hits)."""
    total = raw.agg(
        F.greatest(
            F.expr(f"CAST(sum(s) div {quant} AS BIGINT)"), F.lit(1).cast("long")
        ).alias("n_q")
    )
    return (
        nodes.join(raw, "node", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "node",
            F.expr("CAST(coalesce(s, 0) div n_q AS BIGINT)").alias(out),
        )
    )


def personalized_pagerank(
    edges: DataFrame, seeds: DataFrame, iters: int = 3,
    damping_num: int = 17, damping_den: int = 20, quant: int = 10 ** 9,
    frontier_only: bool = False,
) -> DataFrame:
    """Fixed-iteration PERSONALIZED PageRank (random walk with restart
    to a seed set) → (node, ppr_q): entity relatedness relative to the
    seeds, the query-time companion of the global pagerank (which ranks
    by total importance; PPR answers "important to WHOM").

    INTEGER-MASS semantics, a deliberate strengthening of pagerank's
    float recurrence: all mass lives in 1/quant units as longs; per-edge
    contribution is pr div outdeg (floor), the damped update is
    base + (num·inflow) div den with damping the exact rational num/den
    (0.85 = 17/20), and the restart mass is quant div |S| per seed. Every
    operation is integer, so the result is independent of partitioning
    and float accumulation order BY CONSTRUCTION, and a SQL oracle
    replays it exactly. Floor divisions leak ≤ 1 unit of mass per
    division (and dangling-node mass decays, as in pagerank — same
    documented simple variant); at quant = 1e9 the relative distortion
    is ≤ ~outdeg/quant per node per round.

    Scale shape: identical to pagerank — per iteration one src-keyed
    join + one dst-keyed partial-aggregated shuffle, no driver actions
    in the loop (|S| is folded in-plan via a broadcast single-row
    count). Nodes unreachable from the seeds in ≤ iters hops report 0 —
    the locality that makes PPR a per-query primitive at 100 TB (mass
    is nonzero only on the seeds' iters-hop neighborhood, so a
    frontier_only=True variant skips the full node relation entirely —
    every join is frontier-sized and the output is the nonzero support,
    row-identical to the general form on it; the general form keeps the
    full relation for the oracle's benefit)."""
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .unionByName(seeds.select(F.col("node")))
        .dropDuplicates()
    )
    outdeg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    ns = seeds.select("node").dropDuplicates()
    n_seeds = ns.agg(F.count("*").alias("n_seeds"))
    share = ns.crossJoin(F.broadcast(n_seeds)).select(
        "node",
        F.expr(f"CAST({quant} AS BIGINT) div n_seeds").alias("share"),
    )
    base = share.select(
        "node", F.expr(
            f"CAST(({damping_den - damping_num} * share) div {damping_den} AS BIGINT)"
        ).alias("base"),
    )
    if frontier_only:
        # the per-query scale path the docstring promises: never touch
        # the full node relation — pr carries only the seeds' reached
        # neighborhood, so every join is frontier-sized. Output is the
        # NONZERO support of the general variant (row-identical on it,
        # asserted in tests); nodes the walk never reached are implied 0.
        pr = share.select("node", F.col("share").alias("ppr_q"))
    else:
        pr = nodes.join(share, "node", "left").select(
            "node", F.coalesce("share", F.lit(0).cast("long")).alias("ppr_q")
        )
    for _ in range(iters):
        contrib = (
            edges.join(pr, edges.src == pr.node)
            .join(outdeg, "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("ppr_q div outdeg").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        scope = (
            base.select("node").unionByName(contrib.select("node"))
            .dropDuplicates()
            if frontier_only else nodes
        )
        pr = (
            scope.join(base, "node", "left")
            .join(contrib, "node", "left")
            .select(
                "node",
                (
                    F.coalesce("base", F.lit(0).cast("long"))
                    + F.expr(
                        f"({damping_num} * coalesce(inflow, 0)) div {damping_den}"
                    )
                ).cast("long").alias("ppr_q"),
            )
        )
    return pr


def degree_profile(edges: DataFrame, a: str = "src", b: str = "dst") -> DataFrame:
    """One-row structural profile of the undirected graph → (n_nodes,
    n_edges, deg_min, deg_max, m2, sum_deg, sum_xy, sum_x2,
    assortativity_micro). The KG-profiling analogue of stats_agg: run
    after materialization to catch structural drift between runs — a
    hub explosion (deg_max), fragmentation (n_edges/n_nodes), or a
    mixing change (assortativity: do high-degree entities link to each
    other, as in curated ontologies, or to leaves, as in hub-spoke
    extraction noise? the sign flip is a cheap extraction-regression
    alarm).

    Degree assortativity = Pearson correlation of endpoint degrees over
    the DIRECTED row list (both orientations of each undirected edge —
    the standard Newman formulation, which makes the x/y marginals
    equal: sum_x = sum_y, sum_x2 = sum_y2, so only three sums are
    needed). All five moments (m2 = directed row count, sum_deg = Σx,
    sum_xy, sum_x2, plus min/max) are EXACT integer aggregates of
    integer degrees — order-free longs, the strongest determinism class
    — and the correlation is derived from them in ONE fixed double
    expression shape, micro-quantized (the chi2_association kernel:
    exact integers in, one deterministic rounding out). NULL when the
    variance is zero (regular graph — every degree equal).

    Shape: one degree count shuffle, two node-sized degree joins onto
    the edge list, one single-row aggregate. The exact longs are
    returned alongside the micro so downstream can re-derive at any
    precision (double products m2·sum_xy overflow int64 on web-scale
    graphs; the EXPORTED sums stay exact, only the final correlation
    passes through doubles)."""
    sym = (
        edges.select(F.col(a).alias("src"), F.col(b).alias("dst"))
        .unionByName(
            edges.select(F.col(b).alias("src"), F.col(a).alias("dst"))
        )
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates()
    )
    deg = sym.groupBy("src").agg(F.count("*").alias("deg"))
    rows = (
        sym.join(deg, "src")
        .withColumnRenamed("deg", "x")
        .join(
            deg.select(F.col("src").alias("dst"), F.col("deg").alias("y")),
            "dst",
        )
    )
    agg = rows.agg(
        F.count(F.lit(1)).cast("long").alias("m2"),
        F.sum("x").cast("long").alias("sum_deg"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sum_xy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sum_x2"),
        F.min("x").cast("long").alias("deg_min"),
        F.max("x").cast("long").alias("deg_max"),
        F.count_distinct(F.col("src")).cast("long").alias("n_nodes"),
    )
    num = (
        F.col("m2").cast("double") * F.col("sum_xy")
        - F.col("sum_deg").cast("double") * F.col("sum_deg")
    )
    den = (
        F.col("m2").cast("double") * F.col("sum_x2")
        - F.col("sum_deg").cast("double") * F.col("sum_deg")
    )
    return agg.select(
        "n_nodes",
        F.expr("CAST(m2 div 2 AS BIGINT)").alias("n_edges"),
        "deg_min", "deg_max", "m2", "sum_deg", "sum_xy", "sum_x2",
        F.when(
            den > 0,
            F.round(num / den * F.lit(1_000_000.0)).cast("long"),
        ).alias("assortativity_micro"),
    )


def random_walks(
    edges: DataFrame, walk_len: int = 4, walks_per_node: int = 1,
    directed: bool = False, salt: str = "walk",
) -> DataFrame:
    """DETERMINISTIC uniform random walks over the graph → (start, w,
    step, node): walks_per_node walks of walk_len steps from every
    node, the corpus-generation step of DeepWalk/node2vec — the bridge
    from the materialized KG to skip-gram entity embeddings (each walk
    is a 'sentence' of entities; doc_bpe/pack_sequences take it from
    there).

    No RNG state — the md5-coin discipline extended to SEQUENCES: step
    t of walk (s, w) moves to neighbor number
    md5(s#w#t#salt) mod outdeg(cur) in the current node's dst-sorted
    adjacency. The coin depends only on the walk identity and step (not
    the path), yet each step is uniform over the current node's
    neighbors (mod-bias ~outdeg/2^60); the whole corpus is a pure
    function of the edge set — identical at any parallelism, across
    reruns, and in the SQL oracle, which replays every hex digit. That
    reproducibility is what makes embedding runs comparable between KG
    builds (the same graph always yields the same corpus).

    Shape: the adjacency is indexed once — (node, i, dst) with i from a
    node-partitioned dst-ordered window — alongside a degree relation;
    each step is walks ⋈ deg (node-keyed) ⋈ adjacency on (node, i):
    LINEAR plan growth because the walk frame is referenced once per
    step, and the path accumulates in an ARRAY column (emitting
    per-step frames and unioning would reference each step twice —
    the 3^iters k-core lesson); one posexplode at the end flattens to
    rows. Dangling nodes (directed, outdeg 0) end their walk early —
    shorter walks are real sentences, not errors. Walk state is
    walks×nodes-sized, shuffles keyed by the current node."""
    from pyspark.sql import Window

    sym = edges.select("src", "dst")
    if not directed:
        sym = sym.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    sym = sym.where(F.col("src") != F.col("dst")).dropDuplicates()
    adj = sym.withColumn(
        "i",
        (F.row_number().over(Window.partitionBy("src").orderBy("dst")) - 1
         ).cast("long"),
    )
    deg = sym.groupBy("src").agg(F.count("*").alias("outdeg"))
    nodes = (
        sym.select(F.col("src").alias("node"))
        .unionByName(sym.select(F.col("dst").alias("node")))
        .dropDuplicates()
    )
    walks = nodes.select(
        F.col("node").alias("start"),
        F.explode(F.sequence(F.lit(1), F.lit(walks_per_node))).alias("w"),
        F.array(F.col("node")).alias("path"),
        F.col("node").alias("cur"),
    ).withColumn("w", F.col("w").cast("long"))
    for t in range(1, walk_len + 1):
        coin = F.conv(
            F.substring(
                F.md5(F.concat_ws(
                    "#", F.col("start").cast("string"),
                    F.col("w").cast("string"), F.lit(str(t)), F.lit(salt),
                )), 1, 15
            ), 16, 10,
        ).cast("long")
        walks = (
            walks.join(deg.withColumnRenamed("src", "cur"), "cur", "left")
            .withColumn("i", F.when(
                F.col("outdeg").isNotNull(), F.pmod(coin, F.col("outdeg"))
            ))
            .join(
                adj.select(
                    F.col("src").alias("cur"), "i",
                    F.col("dst").alias("_nxt"),
                ),
                ["cur", "i"], "left",
            )
            .select(
                "start", "w",
                F.when(
                    F.col("_nxt").isNotNull(),
                    F.concat("path", F.array("_nxt")),
                ).otherwise(F.col("path")).alias("path"),
                F.coalesce("_nxt", F.col("cur")).alias("cur"),
            )
        )
    # a dangling stop keeps cur fixed but must not re-append: the path
    # column froze above, so duplicates cannot arise — posexplode gives
    # the true (possibly shortened) sentence
    return walks.select(
        "start", "w", F.posexplode("path").alias("step", "node")
    ).select("start", "w", F.col("step").cast("long").alias("step"), "node")


def clustering_coefficients(
    edges: DataFrame, a: str = "a", b: str = "b"
) -> DataFrame:
    """Local clustering coefficient per node → (node, degree,
    n_triangles, cc_micro): how close each node's neighborhood is to a
    clique — THE community-density probe that separates a duplicate
    nest (cc → 1) from a hub that merely touches many entities
    (cc → 0), where raw triangle counts alone can't tell the two
    apart.

    cc = 2·T(v) / (deg(v)·(deg(v)−1)), emitted as exact integer
    MILLIONTHS (floor division) so the value is bit-identical at any
    parallelism and in the SQL oracle — the repo's micro-quantization
    discipline; degree-0/1 nodes get cc_micro = 0, not NULL, so the
    output is total over the node set.

    Cost on top of triangle_counts (oriented wedge-close, never
    all-pairs): one degree aggregation over the canonical edge list
    plus one node-keyed left join — both shuffle at most the node set.
    The canonical edge list is derived twice (here for degrees, inside
    triangle_counts under its own persist); at 100 TB that's one extra
    scan-side dedup, preferred over widening triangle_counts'
    persisted footprint."""
    e = (
        edges.select(
            F.least(F.col(a), F.col(b)).alias("u"),
            F.greatest(F.col(a), F.col(b)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    tri = triangle_counts(e, "u", "v")
    return (
        deg.join(tri, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0))
            .cast("long")
            .alias("n_triangles"),
        )
        .select(
            "node",
            "degree",
            "n_triangles",
            F.when(
                F.col("degree") >= 2,
                F.expr(
                    "(2 * n_triangles * 1000000)"
                    " div (degree * (degree - 1))"
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("cc_micro"),
        )
    )


def skipgram_pairs(
    corpus: DataFrame,
    window: int = 2,
    walk_cols: tuple[str, str] = ("start", "w"),
    step_col: str = "step",
    node_col: str = "node",
) -> DataFrame:
    """Skip-gram co-occurrence counts from a walk corpus → (center,
    context, cnt): every unordered co-occurrence within ±window inside
    one walk, counted in both directions — the word2vec/DeepWalk
    training-pair extraction that turns random_walks' sentences into
    the (center, context) multiset an embedding trainer consumes
    (and the input doc_pmi_edges-style reweighting applies to).

    Zero joins: one walk-keyed window computes the next `window`
    nodes as leads in a single pass (one shuffle on the walk id, a
    constant-width state per row), array_compact drops the
    end-of-walk NULLs, one explode + a mirrored union makes the pairs
    symmetric, and a map-side-combinable count finishes. A self-join
    on the walk id with an |Δstep| ≤ window band — the r6 oracle's
    deliberately different derivation — would shuffle the corpus
    twice; walks are short, so the lead form is strictly better at
    any scale. Revisits within the window (an undirected walk
    backtracking) produce center = context rows, faithfully counted —
    downstream samplers decide whether to drop them."""
    from pyspark.sql import Window

    w = Window.partitionBy(*walk_cols).orderBy(F.col(step_col).asc())
    leads = corpus.select(
        F.col(node_col).alias("center"),
        F.array_compact(
            F.array(
                *[F.lead(node_col, d).over(w) for d in range(1, window + 1)]
            )
        ).alias("_ctx"),
    )
    fwd = leads.select("center", F.explode("_ctx").alias("context"))
    sym = fwd.unionByName(
        fwd.select(
            F.col("context").alias("center"), F.col("center").alias("context")
        )
    )
    return sym.groupBy("center", "context").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def modularity(
    edges: DataFrame,
    assignment: DataFrame,
    a: str = "a",
    b: str = "b",
    node_col: str = "node",
    label_col: str = "community",
) -> DataFrame:
    """Newman modularity of a community assignment, per community →
    (community, n_nodes, e_intra, d_total, contrib_micro): the quality
    gate for label_propagation / CC-merge output — a partition whose Q
    (= Σ contrib) is near 0 is no better than random, so downstream
    canonicalization shouldn't trust its clusters.

    contrib_c = e_c/m − (d_c/2m)² is carried two ways: as the EXACT
    integer components (e_c intra-community edges, d_c total member
    degree, with m in every row for self-containment), which any
    arbitrary-precision consumer can combine; and pre-quantized to
    integer millionths via DECIMAL(38,0) arithmetic — num =
    (4·m·e_c − d_c²)·1e6, den = 4m², then a manual floor division
    (num − pmod(num, den)) / den, because Spark's `div` silently
    overflows through a LONG for decimal operands (verified) and
    decimal `/` alone rounds. pmod's non-negative remainder makes the
    quotient a true floor for the NEGATIVE contributions sparse
    communities produce, matching the oracle's hugeint floor recipe
    exactly. Fits decimal(38,0) to ~10^15 edges.

    Shape: degree agg + two node-keyed joins of the edge list against
    the (typically broadcast-sized) assignment, one label-keyed agg,
    and a single-row total frame crossJoined in (a broadcast, the
    corpus-stats idiom). Unassigned nodes are excluded from every
    term (documented contract); assigned-but-isolated nodes
    contribute zeros."""
    e = (
        edges.select(
            F.least(F.col(a), F.col(b)).alias("u"),
            F.greatest(F.col(a), F.col(b)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
    )
    asg = assignment.select(
        F.col(node_col).alias("_n"), F.col(label_col).alias("community")
    ).dropDuplicates(["_n"])
    # intra-community edge counts: both endpoints assigned, same label
    lab = (
        e.join(asg.select(F.col("_n").alias("u"),
                          F.col("community").alias("_lu")), "u")
        .join(asg.select(F.col("_n").alias("v"),
                         F.col("community").alias("_lv")), "v")
    )
    e_c = (
        lab.where(F.col("_lu") == F.col("_lv"))
        .groupBy(F.col("_lu").alias("community"))
        .agg(F.count(F.lit(1)).alias("e_intra"))
    )
    deg = (
        e.select(F.col("u").alias("_n"))
        .unionByName(e.select(F.col("v").alias("_n")))
        .groupBy("_n")
        .agg(F.count(F.lit(1)).alias("_d"))
    )
    per_c = (
        asg.join(deg, "_n", "left")
        .groupBy("community")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum(F.coalesce(F.col("_d"), F.lit(0))).alias("d_total"),
        )
    )
    total = e.agg(F.count(F.lit(1)).alias("m"))
    dec = "decimal(38,0)"
    return (
        per_c.join(e_c, "community", "left")
        .select(
            "community",
            "n_nodes",
            F.coalesce(F.col("e_intra"), F.lit(0)).alias("e_intra"),
            "d_total",
        )
        .crossJoin(F.broadcast(total))
        .withColumn(
            "_num",
            (
                F.lit(4).cast(dec) * F.col("m").cast(dec)
                * F.col("e_intra").cast(dec)
                - F.col("d_total").cast(dec) * F.col("d_total").cast(dec)
            )
            * F.lit(1_000_000).cast(dec),
        )
        .withColumn(
            "_den",
            F.lit(4).cast(dec) * F.col("m").cast(dec) * F.col("m").cast(dec),
        )
        .withColumn(
            "contrib_micro",
            ((F.col("_num") - F.pmod(F.col("_num"), F.col("_den")))
             / F.col("_den")).cast("long"),
        )
        .select(
            "community", "n_nodes", "e_intra", "d_total", "m",
            "contrib_micro",
        )
    )


def transitive_closure(edges: DataFrame, max_depth: int) -> DataFrame:
    """Bounded transitive closure of edges(src, dst) → (src, dst, depth)
    for every pair reachable in 1..max_depth hops, depth = MINIMUM hop
    count. The ontology-ancestor primitive: annotate a turn with
    NCBITaxon_9606 and the closure is what lets "mammal"-level queries
    find it — KG consumers pre-materialize is-a closure rather than
    traversing at query time.

    Semi-naive evaluation (the datalog textbook shape, and the only one
    that scales): round i joins ONLY the pairs first discovered in round
    i-1 (the delta) against the edge list — never the whole closure —
    and the left-anti join against the accumulated result both dedups
    and enforces min-depth semantics (a pair reached again by a longer
    path is dropped before it can re-expand). Each round is one
    equi-join keyed by the frontier's dst plus one anti-join; the delta
    shrinks as the closure saturates, so total work is proportional to
    |closure|·avg_outdeg, not |V|²; cycles terminate naturally because
    a revisited pair generates no new delta row. Deep hierarchies get a
    per-round lineage cut: `closure` is referenced twice per round
    (anti-join + union), so the un-cut plan tree DOUBLES per round.
    The cut is depth-adaptive (r6, closing the r5 ADVICE item):
    measured at sf0.1, no-checkpoint wins at depth 3 (1.2 s vs 1.6 s —
    per-round job overhead) but loses exponentially past the crossover
    (depth 6: 13.6 s vs 4.0 s; depth 8: 45.7 s vs 3.7 s), so depths > 4
    checkpoint every round.
    """
    checkpoint_rounds = max_depth > 4
    base = (
        edges.select("src", "dst").dropDuplicates()
        .withColumn("depth", F.lit(1).cast("long"))
    )
    # the edge list joins every round and is re-derived per round —
    # MEASURED cheaper than persisting at bench scale (caching hides
    # size stats from the join planner and pays a refill per
    # invocation); persist `edges` upstream when its own derivation is
    # expensive
    e2 = edges.select(
        F.col("src").alias("_mid"), F.col("dst").alias("_dst")
    ).dropDuplicates()
    closure = base
    delta = base.select("src", "dst")
    for i in range(2, max_depth + 1):
        nxt = (
            delta.join(e2, delta.dst == e2._mid)
            .select("src", F.col("_dst").alias("dst"))
            .dropDuplicates()
            .join(closure.select("src", "dst"), ["src", "dst"], "left_anti")
            .withColumn("depth", F.lit(i).cast("long"))
        )
        if checkpoint_rounds:
            nxt = nxt.localCheckpoint(eager=True)
        closure = closure.unionByName(nxt)
        delta = nxt.select("src", "dst")
    return closure


def rule_confidence(
    triples: DataFrame,
    s_col: str = "subj",
    p_col: str = "pred",
    o_col: str = "obj",
) -> DataFrame:
    """AMIE-style length-2 horn-rule mining over a triple store:
    for every predicate pair (p, q) with at least one connecting path
    p(x, z) ∧ q(z, y), and every head predicate r asserted on at least
    one such (x, y), emit

        (body_p, body_q, head_r, n_body, n_matched, conf_micro)

    where n_body = |distinct (x, y) with a p∘q path|, n_matched = how
    many of those pairs also satisfy r(x, y), and conf_micro is the
    standard rule confidence n_matched/n_body as exact floored
    millionths. conf_micro = 1e6 means the rule p(x,z) ∧ q(z,y) ⇒
    r(x,y) holds on every observed body instance — the KG-completion
    signal (mine rules from the extracted graph, apply them to infer
    missing edges).

    Scale shape: one self-join keyed on the shared variable z (the
    inherent path-counting cost — an equi-join, never all-pairs, with
    fanout bounded by z's in×out degree product; cap hub nodes upstream
    if the degree distribution demands it), a distinct to collapse
    multiple z-witnesses of the same (x, y), then one (x, y)-keyed join
    against the triple store for head matching — each a plain shuffle
    join with map-side-combinable counts on top. The all-UNION oracle
    replays every step."""
    # NOT persisted (r6, measured 1.86 s -> 1.42 s at sf0.1): the three
    # join sides share the identical dropDuplicates exchange via
    # ReuseExchange (the triangle_counts argument).
    t = triples.select(
        F.col(s_col).alias("s"), F.col(p_col).alias("p"),
        F.col(o_col).alias("o"),
    ).dropDuplicates()
    t1 = t.select(
        F.col("p").alias("body_p"), F.col("s").alias("x"),
        F.col("o").alias("z"),
    )
    t2 = t.select(
        F.col("p").alias("body_q"), F.col("s").alias("z2"),
        F.col("o").alias("y"),
    )
    body = (
        t1.join(t2, t1.z == t2.z2)
        .select("body_p", "body_q", "x", "y")
        .dropDuplicates()
    )
    n_body = body.groupBy("body_p", "body_q").agg(
        F.count(F.lit(1)).alias("n_body")
    )
    heads = t.select(
        F.col("p").alias("head_r"), F.col("s").alias("x"),
        F.col("o").alias("y"),
    )
    matched = (
        body.join(heads, ["x", "y"])
        .groupBy("body_p", "body_q", "head_r")
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )
    dec = "decimal(38,0)"
    num = F.col("n_matched").cast(dec) * F.lit(1_000_000).cast(dec)
    den = F.col("n_body").cast(dec)
    return (
        matched.join(n_body, ["body_p", "body_q"])
        .select(
            "body_p", "body_q", "head_r", "n_body", "n_matched",
            ((num - F.pmod(num, den)) / den).cast("long")
            .alias("conf_micro"),
        )
    )


def landmark_distances(
    edges: DataFrame, landmarks: DataFrame, max_dist: int,
    directed: bool = False,
) -> DataFrame:
    """Multi-source labeled BFS: edges(src, dst) + landmarks(node) →
    (node, landmark, dist) for every node within max_dist hops of each
    landmark, dist = minimum hop count (landmarks are dist 0 from
    themselves). The distance-sketch primitive: pick a few dozen
    landmarks, materialize this relation, and any pairwise distance
    query is answered as min over landmarks of d(u, ℓ) + d(ℓ, v) —
    the standard landmark/ALT estimation scheme, turning online graph
    traversal into one equi-join against a precomputed table.

    Same semi-naive frontier discipline as khop, but the frontier is
    keyed by (landmark, node) so all sources expand in the SAME
    per-round join — one edge-list pass per round total, not per
    landmark. The anti-join on (landmark, node) enforces min-dist and
    keeps each round's join input proportional to the new frontier.
    The per-round lineage cut is depth-adaptive like
    transitive_closure (r6): measured no-checkpoint wins at the
    dist-3 fixture (2.1 s vs 2.7 s warm at sf0.1) but the frontier
    chain re-executes per round without cuts, so sweeps deeper than 4
    checkpoint every round."""
    checkpoint_rounds = max_dist > 4
    sym = edges.select("src", "dst")
    if not directed:
        sym = sym.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    # re-derived per round by design (the khop discipline): measured
    # cheaper than a persist, which hides size stats from the join
    # planner; persist `edges` upstream for an expensive input
    seeds = landmarks.select(F.col("node").alias("landmark")).dropDuplicates()
    reached = seeds.select(
        "landmark", F.col("landmark").alias("node")
    ).withColumn("dist", F.lit(0).cast("long"))
    frontier = reached.select("landmark", "node")
    for i in range(1, max_dist + 1):
        nxt = (
            frontier.join(sym, frontier.node == sym.src)
            .select("landmark", F.col("dst").alias("node"))
            .dropDuplicates()
            .join(
                reached.select("landmark", "node"),
                ["landmark", "node"], "left_anti",
            )
            .withColumn("dist", F.lit(i).cast("long"))
        )
        if checkpoint_rounds:
            nxt = nxt.localCheckpoint(eager=True)
        reached = reached.unionByName(nxt)
        frontier = nxt.select("landmark", "node")
    return reached.select("node", "landmark", "dist")


def weighted_sssp(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int,
    weight_col: str = "w",
) -> DataFrame:
    """Bounded Bellman-Ford: edges(src, dst, w — non-negative integer
    weights) + seeds(node) → (node, dist) where dist is the minimum
    total weight over paths of ≤ `rounds` edges from any seed. The
    weighted complement of khop/landmark_distances (hop counts treat a
    10-confidence edge and a 1-confidence edge alike; weighted
    distances are what "strength of connection ≤ d" queries need).
    Integer weights keep every relaxation an exact long sum — callers
    quantize float costs once upstream (the engine's micro-quantize
    discipline) so min() never compares accumulated float error.

    Semi-naive relaxation, the distributed Bellman-Ford shape: each
    round joins ONLY the nodes whose distance improved last round
    against the edge list (map-side-combinable min on the candidate
    relation, then one left join against the current labels to keep
    strict improvements). Converged graphs produce an empty improved
    set and later rounds are no-ops; with non-negative weights
    `rounds` ≥ the hop diameter gives the exact fixpoint. Fixed round
    count ⇒ action-free loop (the pagerank/CC discipline).

    Every round is checkpointed, unlike the single-frame loops: the
    label update dist ← dist ▷ improved ∪ improved
    references dist TWICE, so without a per-round lineage cut the plan
    tree doubles every round (Catalyst plans are trees — no common
    subtree sharing) and round R recomputes the whole relaxation 2^R
    times. The eager checkpoints materialize one merged nodes-sized
    frame per round; measured at sf0.1 they turn a 12 s 3-round run
    into sub-second rounds.

    r6: the frontier is carried as a _new flag INSIDE the checkpointed
    frame — previously `improved` hung off the PREVIOUS round's
    (un-materialized) frontier chain, so round R's checkpoint job
    re-ran every earlier round's relaxation join (O(R²) joins overall);
    now both dist and the next frontier are column slices of the same
    materialized frame and lineage is fully cut each round."""
    from ..cache import scoped_persist

    # the weighted edge list joins every round — persist once
    e = scoped_persist(
        edges.select(
            "src", "dst", F.col(weight_col).cast("long").alias("_w")
        ),
        "graph.sssp.edges",
    )
    dist = (
        seeds.select("node").dropDuplicates()
        .withColumn("dist", F.lit(0).cast("long"))
    )
    improved = dist
    for _ in range(rounds):
        cand = (
            improved.join(e, improved.node == e.src)
            .select(
                F.col("dst").alias("node"),
                (F.col("dist") + F.col("_w")).alias("_d2"),
            )
            .groupBy("node")
            .agg(F.min("_d2").alias("_d2"))
        )
        cur = dist.select(F.col("node").alias("_n"), F.col("dist").alias("_cur"))
        improved = (
            cand.join(cur, cand.node == cur._n, "left")
            .where(F.col("_cur").isNull() | (F.col("_d2") < F.col("_cur")))
            .select("node", F.col("_d2").alias("dist"))
        )
        merged = (
            dist.join(improved.select("node"), "node", "left_anti")
            .withColumn("_new", F.lit(False))
            .unionByName(improved.withColumn("_new", F.lit(True)))
        )
        merged = merged.localCheckpoint(eager=True)
        dist = merged.select("node", "dist")
        improved = merged.where(F.col("_new")).select("node", "dist")
    return dist


def dag_layers(edges: DataFrame, rounds: int) -> DataFrame:
    """Topological layering of a DAG: (node, layer) where layer is the
    length of the LONGEST path reaching the node from any source
    (in-degree-0) node — the processing-order assignment for
    hierarchy-aware jobs (evaluate an ontology level by level, roll
    metrics up a reporting tree) and the dual of transitive_closure's
    reachability. Sources are layer 0; every node reachable from a
    source appears, which in a DAG is every node.

    Same semi-naive max-relaxation as weighted_sssp with min: each
    round joins ONLY nodes whose layer grew last round against the
    edge list (combinable max on candidates, strict-improvement
    filter). `rounds` must be ≥ the DAG depth for the exact fixpoint;
    on a graph WITH cycles the longest path is unbounded and this
    returns the rounds-capped relaxation — the cap is the safety rail,
    cycle detection is the caller's contract (check_constraints /
    closure-based audits).

    Every round is checkpointed for the same reason as weighted_sssp:
    the layer ← layer ▷ improved ∪ improved update
    references layer twice, doubling the plan tree per round (no
    common-subtree sharing in Catalyst) — measured 50 s → sub-second
    rounds at sf0.1 with the per-round eager cuts. r6: the frontier is
    carried as a _new flag inside the checkpointed frame so the
    improved-chain lineage is cut too (see weighted_sssp)."""
    # re-derived per reference by design — measured cheaper than a
    # persist at bench scale (see landmark_distances); persist `edges`
    # upstream for an expensive input
    e = edges.select("src", "dst").dropDuplicates()
    nodes_src = e.select(F.col("src").alias("node")).dropDuplicates()
    nodes_dst = e.select(F.col("dst").alias("node")).dropDuplicates()
    layer = (
        nodes_src.join(nodes_dst, "node", "left_anti")
        .withColumn("layer", F.lit(0).cast("long"))
    )
    improved = layer
    for _ in range(rounds):
        cand = (
            improved.join(e, improved.node == e.src)
            .select(
                F.col("dst").alias("node"),
                (F.col("layer") + F.lit(1)).alias("_l2"),
            )
            .groupBy("node")
            .agg(F.max("_l2").alias("_l2"))
        )
        cur = layer.select(
            F.col("node").alias("_n"), F.col("layer").alias("_cur")
        )
        improved = (
            cand.join(cur, cand.node == cur._n, "left")
            .where(F.col("_cur").isNull() | (F.col("_l2") > F.col("_cur")))
            .select("node", F.col("_l2").alias("layer"))
        )
        merged = (
            layer.join(improved.select("node"), "node", "left_anti")
            .withColumn("_new", F.lit(False))
            .unionByName(improved.withColumn("_new", F.lit(True)))
        )
        merged = merged.localCheckpoint(eager=True)
        layer = merged.select("node", "layer")
        improved = merged.where(F.col("_new")).select("node", "layer")
    return layer


def kg_integrity(
    triples: DataFrame,
    s_col: str = "subj",
    p_col: str = "pred",
    o_col: str = "obj",
) -> DataFrame:
    """Graph-hygiene report for a materialized triple store, one row:
    n_triples, n_dup_triples (exact duplicates — should be 0 after a
    clean materialize), n_subjects, n_objects, n_entities (either
    role), n_dangling_objs (objects never appearing as a subject —
    leaf entities; a sudden jump means extraction started minting
    entities nothing else describes), n_preds, plus
    dangling_micro = n_dangling_objs·1e6 // n_objects. The relational
    dq gate (check_constraints) covers column-level rules; this is the
    graph-shape complement run between KG builds alongside
    degree_profile.

    Scale shape: one distinct over triples (the only data-sized
    shuffle), role sets derived from it, one anti-join for dangling,
    and single-row aggregates — every relation after the distinct is
    entities-sized."""
    t = triples.select(
        F.col(s_col).alias("s"), F.col(p_col).alias("p"),
        F.col(o_col).alias("o"),
    )
    # the distinct is re-derived per role set by design — measured
    # cheaper than persisting at bench scale; persist `triples`
    # upstream when the store's own derivation is expensive
    dt = t.dropDuplicates()
    subs = dt.select(F.col("s").alias("e")).dropDuplicates()
    objs = dt.select(F.col("o").alias("e")).dropDuplicates()
    dangling = objs.join(subs, "e", "left_anti")
    counts = (
        t.agg(F.count(F.lit(1)).alias("n_triples"))
        .crossJoin(dt.agg(F.count(F.lit(1)).alias("_nd")))
        .crossJoin(subs.agg(F.count(F.lit(1)).alias("n_subjects")))
        .crossJoin(objs.agg(F.count(F.lit(1)).alias("n_objects")))
        .crossJoin(
            subs.unionByName(objs).dropDuplicates()
            .agg(F.count(F.lit(1)).alias("n_entities"))
        )
        .crossJoin(dangling.agg(F.count(F.lit(1)).alias("n_dangling_objs")))
        .crossJoin(
            dt.select("p").dropDuplicates()
            .agg(F.count(F.lit(1)).alias("n_preds"))
        )
    )
    dec = "decimal(38,0)"
    num = F.col("n_dangling_objs").cast(dec) * F.lit(1_000_000).cast(dec)
    den = F.col("n_objects").cast(dec)
    return counts.select(
        "n_triples",
        (F.col("n_triples") - F.col("_nd")).alias("n_dup_triples"),
        "n_subjects", "n_objects", "n_entities", "n_dangling_objs",
        "n_preds",
        F.when(
            F.col("n_objects") > 0,
            ((num - F.pmod(num, den)) / den).cast("long"),
        ).alias("dangling_micro"),
    )


def label_spreading(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 2,
    directed: bool = False,
) -> DataFrame:
    """Semi-supervised label spreading with CLAMPED seeds — the KG
    type-inference primitive (a few entities carry curated types;
    propagate them over the co-mention/similarity graph to type the
    rest), distinct from label_propagation's community detection:
    there every node seeds its own id and labels drift; here seeds
    (node, label) are ground truth that never changes, and unlabeled
    nodes take the most frequent label among their LABELED neighbors
    (ties to the smallest label — the engine's pinned-tie discipline),
    staying unlabeled until a labeled neighbor reaches them.

    Returns (node, label, is_seed) for every node that has a label
    after `iters` rounds. Per round: one equi-join of current labels
    against the edge list, one (node, label) combinable count, one
    per-node window argmax, then the clamp (seeds override via
    anti-join + union). Fixed iterations, action-free loop."""
    from ..cache import scoped_persist

    sym = edges.select("src", "dst")
    if not directed:
        sym = sym.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    # the edge list joins once per ROUND, and rounds are separate
    # checkpoint jobs — ReuseExchange cannot span actions, so without a
    # persist the (possibly expensive) edge derivation re-executes every
    # round (the weighted_sssp multi-action discipline; the
    # single-action persists removed in r6 are a different case).
    sym = scoped_persist(sym, "graph.spread.sym")
    s = seeds.select("node", "label").dropDuplicates(["node"])
    labels = s
    for _ in range(iters):
        votes = (
            labels.join(sym, labels.node == sym.src)
            .groupBy(F.col("dst").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("_n"))
        )
        # argmax via min_by over (-n, label) — the label_propagation
        # rewrite (r6): same winner, map-side combinable, no window sort
        inferred = votes.groupBy("node").agg(
            F.min_by(
                "label", F.struct((-F.col("_n")).alias("_nn"), F.col("label"))
            ).alias("label")
        )
        labels = s.unionByName(
            inferred.join(s.select("node"), "node", "left_anti")
        ).localCheckpoint(eager=True)
    return labels.join(
        s.select("node").withColumn("_seed", F.lit(True)),
        "node", "left",
    ).select(
        "node", "label",
        F.coalesce("_seed", F.lit(False)).alias("is_seed"),
    )


def quotient_graph(
    edges: DataFrame,
    labels: DataFrame,
    keep_self_loops: bool = True,
) -> DataFrame:
    """Community-level summary graph: contract every node to its
    community label (from label_propagation / connected_components /
    label_spreading) and count edges between communities →
    (comm_a, comm_b, n_edges) with comm_a ≤ comm_b canonical order and
    intra-community edges as self-loops (comm_a = comm_b) — the
    quotient graph that makes community-level analytics (PageRank over
    communities, inter-cluster flow, modularity drill-down) run on a
    communities-sized relation instead of the full edge list. Edges
    whose endpoint has no label are dropped (inner joins — labeling
    completeness is the upstream contract; kg_integrity/dq audits it).

    Scale shape: two node-keyed equi-joins (labels are nodes-sized) +
    one combinable (comm_a, comm_b) count. Hub communities concentrate
    COUNTS, not rows — the output is communities², bounded far below
    the edge count."""
    from ..cache import scoped_persist

    # the label table feeds BOTH endpoint joins — persist the projection
    # so an expensive upstream (LPA, CC) runs once
    labels = scoped_persist(
        labels.select("node", "label"), "graph.quotient.labels"
    )
    la = labels.select(
        F.col("node").alias("_sa"), F.col("label").alias("_ca")
    )
    lb = labels.select(
        F.col("node").alias("_sb"), F.col("label").alias("_cb")
    )
    j = (
        edges.select("src", "dst")
        .join(la, F.col("src") == F.col("_sa"))
        .join(lb, F.col("dst") == F.col("_sb"))
        .select(
            F.least("_ca", "_cb").alias("comm_a"),
            F.greatest("_ca", "_cb").alias("comm_b"),
        )
    )
    if not keep_self_loops:
        j = j.where(F.col("comm_a") != F.col("comm_b"))
    return j.groupBy("comm_a", "comm_b").agg(
        F.count(F.lit(1)).alias("n_edges")
    )
