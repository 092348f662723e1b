"""Similarity search over embedding columns (array<float>).

Two paths, same contract (query_id, neighbor_id, cos):

- ``cosine_topk`` — brute force. The dot product is pure Catalyst
  (zip_with + aggregate, whole-stage codegen'd); top-k is a per-query
  window. Cost Q×N — correct baseline, and the right choice whenever one
  side broadcasts.
- ``lsh_cosine_topk`` — the scale path: random-hyperplane signatures
  (sign-bit LSH). Planes are deterministic literals (seeded), the
  signature is a numpy kernel (see the kernels note), candidates come
  from an equi-join on (band, band_bits) — at 10^9 vectors this is
  shuffle-partitionable by bucket instead of an N×Q product. Re-rank
  candidates with exact cosine. Recall is tunable via n_planes/bands
  (more bands → more candidates).

- ``ivf_cosine_topk`` — the IVF shape: coarse assignment of every vector
  to its nearest centroid (cells), queries probe the ``n_probe`` nearest
  cells, exact re-rank inside the probed cells. Centroids are
  deterministic md5-derived unit-free points, so a DuckDB oracle can
  replay the cell assignment; candidate generation is an equi-join on
  cell id, shuffle-partitionable by cell at 10^9 vectors.
"""

from __future__ import annotations

import hashlib
import struct

import pandas as pd  # module-level: pandas_udf type hints resolve in globals

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _vecd(col) -> F.Column:
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b) -> F.Column:
    """Dot product — the identical zip_with + left-fold ``cosine`` uses."""
    return F.aggregate(
        F.zip_with(_vecd(a), _vecd(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(col) -> F.Column:
    """L2 norm — sqrt of the identical x*x left-fold ``cosine`` computes
    inline. Hoisted per VECTOR by the pairwise operators below (r6): the
    norm is a function of one vector, so folding it per candidate PAIR
    (as an inline ``cosine`` does) repeats the same interpreted
    higher-order-function work once per pair instead of once per row.
    Same expression tree on the same values ⟹ bit-identical doubles, and
    dot/(na*nb) is evaluated in the same order as before — the hoisted
    form is IEEE-equal to the inline form (pinned by test)."""
    return F.sqrt(F.aggregate(_vecd(col), F.lit(0.0), lambda acc, x: acc + x * x))


def _cos_pre(qv, cv, qn, cn) -> F.Column:
    """Cosine from precomputed norms: same dot fold, same na*nb product
    order as ``cosine`` — bit-identical, one fold per pair instead of
    three."""
    return _dot(qv, cv) / (F.col(qn) * F.col(cn))


# --------------------------------------------------------------- kernels
#
# PQ codes, PQ distance tables, IVF cells and LSH signatures score one
# embedding column against literal centroids or planes; each runs as one
# vectorized numpy pandas UDF. The alternative, a Catalyst HOF tree over
# the same literals, gave bit-identical output and was slower at every
# site in an interleaved A/B (BENCH/similarity_one_kernel/, sf0.1, 4-core
# VM, median wall over 9 reps: PQ codes +0.77 s and PQ tables +0.47 s per
# query, LSH +0.14 s, IVF cells +0.04 to +0.12 s), mostly as driver-side
# plan build and codegen. The kernels sum in the same left-to-right order
# over vector positions as the SQL does (an explicit t-loop: no
# BLAS/pairwise reordering, no FMA), widen float32 to double the same way
# and break ties by the same rule, so the DuckDB oracles, which are the
# correctness reference, stay hash-exact.


def _np_rows(series):
    import numpy as np

    return np.stack([np.asarray(v, dtype=np.float64) for v in series])


def _dots(x, mat, off: int = 0):
    """rows of x (from position off) · rows of mat, each dot summed left
    to right over the positions — the order the SQL oracles add in."""
    import numpy as np

    acc = np.zeros((x.shape[0], mat.shape[0]))
    for t in range(mat.shape[1]):
        acc += x[:, off + t, None] * mat[None, :, t]
    return acc


def _pq_codes(vec_col, codebooks) -> F.Column:
    """embedding → m nearest-centroid codes (PQ encode): argmin_c of
    |c|² − 2·x·c per subspace (the |x|² term is constant per row and
    cancels from the argmin); ties take the lowest code."""
    import numpy as np

    sub = len(codebooks[0][0])
    cbs = [np.array([[float(x) for x in c] for c in cb]) for cb in codebooks]
    # centroid self-norms accumulated in PYTHON sum order — the same
    # scalar the SQL oracles embed as a literal
    nrm = [np.array([sum(x * x for x in c) for c in cb]) for cb in codebooks]

    @F.pandas_udf("array<int>")
    def codes(s: pd.Series) -> pd.Series:
        if len(s) == 0:
            return pd.Series([], dtype=object)
        x = _np_rows(s)
        out = np.empty((x.shape[0], len(cbs)), dtype=np.int32)
        for j, (cb, cn) in enumerate(zip(cbs, nrm)):
            d = cn[None, :] - 2.0 * _dots(x, cb, j * sub)
            out[:, j] = np.argmin(d, axis=1)  # first min == lowest code
        return pd.Series(list(out))

    return codes(vec_col)


def _pq_dtab(vec_col, codebooks) -> F.Column:
    """embedding → flattened m×k_cents ADC distance table: the true
    |q_j − c|² per subspace centroid, as a (x−c)² left fold."""
    import numpy as np

    sub = len(codebooks[0][0])
    cbs = [np.array([[float(x) for x in c] for c in cb]) for cb in codebooks]

    @F.pandas_udf("array<double>")
    def dtab(s: pd.Series) -> pd.Series:
        if len(s) == 0:
            return pd.Series([], dtype=object)
        x = _np_rows(s)
        parts = []
        for j, cb in enumerate(cbs):
            acc = np.zeros((x.shape[0], cb.shape[0]))
            off = j * sub
            for t in range(sub):
                diff = x[:, off + t, None] - cb[None, :, t]
                acc += diff * diff
            parts.append(acc)
        return pd.Series(list(np.concatenate(parts, axis=1)))

    return dtab(vec_col)


def ivf_assign(vec_col, centroids: list[list[float]], n_probe: int = 1) -> F.Column:
    """Cell ids of the n_probe nearest centroids, nearest first, by cosine
    against the norm-free dot product (centroids are compared to the SAME
    vector, so the vector's own norm cancels; centroid norms are literal
    scalars). Ties take the HIGHER cell first, the order the DuckDB
    oracles replay."""
    import math

    import numpy as np

    cmat = np.array([[float(x) for x in c] for c in centroids])
    cn = np.array([math.sqrt(sum(x * x for x in c)) for c in centroids])
    neg_ids = -np.arange(cmat.shape[0])

    @F.pandas_udf("array<int>")
    def cells(s: pd.Series) -> pd.Series:
        if len(s) == 0:
            return pd.Series([], dtype=object)
        sim = _dots(_np_rows(s), cmat) / cn[None, :]
        out = []
        for row in sim:
            order = np.lexsort((neg_ids, -row))  # sim desc, cell desc on ties
            out.append(order[:n_probe].astype(np.int32))
        return pd.Series(out)

    return cells(vec_col)


def cosine(a, b) -> F.Column:
    """Cosine similarity of two array columns, as the oracle-replayable
    HOF fold. A HOF fold rather than a numpy kernel like the
    centroid-literal math (see the kernels note): on the candidate-scoring
    paths (two data-dependent vector columns per row) an Arrow twin's
    round trip of both embeddings cost more than the fold saves (measured
    r6: 7-13 s vs 2.5-2.8 s for emb_ann_topk at sf1.0)."""
    dot = F.aggregate(
        F.zip_with(_vecd(a), _vecd(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    na = F.sqrt(F.aggregate(_vecd(a), F.lit(0.0), lambda acc, x: acc + x * x))
    nb = F.sqrt(F.aggregate(_vecd(b), F.lit(0.0), lambda acc, x: acc + x * x))
    return dot / (na * nb)


def cosine_topk(
    queries: DataFrame, corpus: DataFrame, k: int = 5,
    id_q: str = "vec_id", id_c: str = "vec_id", vec: str = "embedding",
) -> DataFrame:
    """Brute-force top-k: the query set is broadcast against the
    corpus (a broadcast nested loop; the corpus is never shuffled)."""
    q = queries.select(
        F.col(id_q).alias("query_id"), F.col(vec).alias("qv"),
        _norm(F.col(vec)).alias("qn"),
    )
    c = corpus.select(
        F.col(id_c).alias("neighbor_id"), F.col(vec).alias("cv"),
        _norm(F.col(vec)).alias("cn"),
    )
    scored = F.broadcast(q).crossJoin(c).where(F.col("query_id") != F.col("neighbor_id")).select(
        "query_id", "neighbor_id", _cos_pre("qv", "cv", "qn", "cn").alias("cos")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def _planes(n_planes: int, dim: int, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-random unit-free hyperplanes from md5 —
    reproducible across sessions/parallelism (no RNG state)."""
    planes = []
    for p in range(n_planes):
        row = []
        for i in range(dim):
            h = hashlib.md5(f"{seed}:{p}:{i}".encode()).digest()[:8]
            v = struct.unpack("<q", h)[0] / float(2**63)  # [-1, 1)
            row.append(v)
        planes.append(row)
    return planes


def lsh_signature(vec_col, planes: list[list[float]]) -> F.Column:
    """Sign-bit signature as a long (n_planes ≤ 63 bits): bit b is set
    iff the left-fold dot with plane b is >= 0. The packed long is
    integer-exact."""
    import numpy as np

    pmat = np.array([[float(x) for x in p] for p in planes])

    @F.pandas_udf("long")
    def sig(s: pd.Series) -> pd.Series:
        if len(s) == 0:
            return pd.Series([], dtype="int64")
        bits = (_dots(_np_rows(s), pmat) >= 0).astype(np.int64)
        weights = (1 << np.arange(pmat.shape[0], dtype=np.int64))
        return pd.Series(bits @ weights)

    return sig(vec_col)


def lsh_cosine_topk(
    queries: DataFrame, corpus: DataFrame, k: int = 5,
    id_q: str = "vec_id", id_c: str = "vec_id", vec: str = "embedding",
    n_planes: int = 16, bands: int = 4, dim: int | None = None, seed: int = 7,
) -> DataFrame:
    """ANN top-k: candidates share ≥1 LSH band, re-ranked by exact cosine.

    dim (the embedding width) must be supplied by the caller — probing it
    with corpus.first() would be a driver-side action at plan-build time
    (an extra job per call, and a TypeError on an empty corpus)."""
    if dim is None:
        raise ValueError(
            "lsh_cosine_topk requires dim= (embedding width); it is not "
            "probed from the data to keep plan construction action-free"
        )
    planes = _planes(n_planes, dim, seed)
    per_band = n_planes // bands
    mask = (1 << per_band) - 1

    def banded(df, idc, alias_id, keep_vec):
        # NOTE (r6, measured): an ids-only banding with the vectors
        # re-attached to the deduped pair list by id measured SLOWER
        # here (6.5-8.4 s vs 2.5-2.8 s at sf1.0) — the query side
        # broadcasts, so the corpus vectors cross only one dropDuplicates
        # exchange either way and the attach joins were pure overhead.
        # ALSO rejected on measurement (r6, second pass): (a) hoisting
        # the two norm folds out of the inline cosine (per vector instead
        # of per pair — the rewrite KEPT for ivf/brute/semantic scoring)
        # measured neutral on the bench embeddings (0.832 vs 0.838 s
        # min-of-5, sf0.1) and 35% SLOWER on a clustered 20k corpus;
        # (b) scoring before the pair dedup (to shuffle (id,id,cos)
        # instead of vector payloads) lost 2.2x on the same clustered
        # corpus — near vectors collide in most of their bands, so the
        # pre-dedup fold count multiplies by the collision factor.
        sig = lsh_signature(F.col(vec), planes)
        base = df.select(
            F.col(idc).alias(alias_id), F.col(vec).alias(keep_vec), sig.alias("sig")
        )
        return base.select(
            alias_id, keep_vec,
            F.explode(F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftright("sig", b * per_band).bitwiseAND(F.lit(mask)).alias("bits"),
                )
                for b in range(bands)
            ])).alias("bb"),
        ).select(alias_id, keep_vec, "bb.band", "bb.bits")

    qb = banded(queries, id_q, "query_id", "qv")
    cb = banded(corpus, id_c, "neighbor_id", "cv")
    cand = (
        qb.join(cb, ["band", "bits"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.select("query_id", "neighbor_id", cosine("qv", "cv").alias("cos"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def ivf_cosine_topk(
    queries: DataFrame, corpus: DataFrame, k: int = 5,
    id_q: str = "vec_id", id_c: str = "vec_id", vec: str = "embedding",
    n_cells: int = 8, n_probe: int = 2, dim: int = 64, seed: int = 11,
) -> DataFrame:
    """IVF ANN: corpus vectors live in their single nearest cell, queries
    probe their n_probe nearest cells, exact cosine re-rank inside the
    probed cells. Candidate generation is an equi-join on cell id —
    shuffle-partitionable (or broadcast for small query sets), never an
    N×Q product. The centroids are the deterministic seed points."""
    cents = _planes(n_cells, dim, seed)
    c = corpus.select(
        F.col(id_c).alias("neighbor_id"), F.col(vec).alias("cv"),
        _norm(F.col(vec)).alias("cn"),
        F.element_at(ivf_assign(F.col(vec), cents, 1), 1).alias("cell"),
    )
    q = queries.select(
        F.col(id_q).alias("query_id"), F.col(vec).alias("qv"),
        _norm(F.col(vec)).alias("qn"),
        F.explode(ivf_assign(F.col(vec), cents, n_probe)).alias("cell"),
    )
    cand = q.join(c, "cell").where(F.col("query_id") != F.col("neighbor_id"))
    scored = cand.select(
        "query_id", "neighbor_id", _cos_pre("qv", "cv", "qn", "cn").alias("cos")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def cosine_pairs_above(
    df: DataFrame, threshold: float, id_col: str = "vec_id", vec: str = "embedding",
    limit_ids: int | None = None,
) -> DataFrame:
    """Embedding near-duplicate detection: all pairs (a < b) with cosine ≥
    threshold. Brute-force form for oracle checking; the LSH banding above
    is the scale path."""
    base = df.select(F.col(id_col).alias("id"), F.col(vec).alias("v"))
    if limit_ids is not None:
        base = base.where(F.col("id") < limit_ids)
    a = base.select(F.col("id").alias("a"), F.col("v").alias("va"),
                    _norm(F.col("v")).alias("na"))
    b = base.select(F.col("id").alias("b"), F.col("v").alias("vb"),
                    _norm(F.col("v")).alias("nb"))
    return (
        a.join(b, F.col("a") < F.col("b"))
        .select("a", "b", _cos_pre("va", "vb", "na", "nb").alias("cos"))
        .where(F.col("cos") >= threshold)
    )


def semantic_dedup(
    df: DataFrame, threshold: float, id_col: str = "vec_id",
    vec: str = "embedding", n_cells: int = 8, dim: int = 64, seed: int = 11,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: every vector is assigned to
    its nearest coarse cell (ivf_assign), and a row is dropped iff a
    LOWER-id row in the SAME cell has cosine ≥ threshold with it
    (keep-lowest-id representative, the same canonical-survivor rule the
    exact/MinHash dedups use).

    Returns (id, cell, kept) for EVERY input row — a flagged frame, so
    the caller chooses `where(kept)` for the survivors or inspects the
    drops; deterministic row count for oracle checking.

    Scale shape: candidate generation is a self-equi-join on cell id —
    never an all-pairs product. Within-cell work is quadratic in CELL
    size only; at 10^9 vectors you raise n_cells so cells stay ~10^3-10^4
    (SemDeDup's published configuration is exactly this: k-means cells of
    a few thousand, pairwise cosine inside each). The cells here come
    from the deterministic seed centroids, the oracle-checkable form."""
    cents = _planes(n_cells, dim, seed)
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec).alias("v"),
        _norm(F.col(vec)).alias("n"),
        F.element_at(ivf_assign(F.col(vec), cents, 1), 1).alias("cell"),
    )
    a = base.select("cell", F.col("id").alias("a"), F.col("v").alias("va"),
                    F.col("n").alias("na"))
    b = base.select("cell", F.col("id").alias("b"), F.col("v").alias("vb"),
                    F.col("n").alias("nb"))
    dups = (
        a.join(b, "cell")
        .where(F.col("a") < F.col("b"))
        .where(_cos_pre("va", "vb", "na", "nb") >= threshold)
        .select(F.col("b").alias("dup_id"))
        .distinct()
    )
    return (
        base.join(dups, base["id"] == dups["dup_id"], "left")
        .select("id", "cell", F.col("dup_id").isNull().alias("kept"))
    )


def eval_topk(
    pred: DataFrame,
    truth: DataFrame,
    k: int = 5,
    query_col: str = "query_id",
    item_col: str = "neighbor_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Distributed top-k retrieval evaluation → one row per truth query:
    (query, n_hit, n_truth, recall_micro, mrr_micro). Per query rather
    than one driver-side recall figure: when the eval set is millions of
    queries (scoring an ANN index build, or comparing two rankers), the
    metrics themselves must be a DataFrame, not a float — so they can be
    sliced, joined to query metadata, and regression-diffed between runs.

    Exact integer arithmetic end to end (the repo's micro-quantization
    discipline): recall@k = (n_hit·1e6) div n_truth, MRR = 1e6 div
    (best predicted rank among hits), 0 when nothing hit — bit-stable
    at any parallelism, no float division anywhere. Both inputs are
    truncated to rank ≤ k first, so an over-fetched candidate list
    can't inflate recall. Queries present only in pred are ignored
    (evaluation is defined over the truth set); truth queries with no
    predictions still get a row (n_hit = 0) via the left join.

    Shape: one (query, item) equi-join + two query-keyed aggregations
    — every shuffle is on the query key, nothing is collected, and the
    hit join's width is bounded by k per query, so skew cannot exceed
    k rows per key by construction."""
    p = pred.where(F.col(rank_col) <= k).select(
        F.col(query_col).alias("query"),
        F.col(item_col).alias("item"),
        F.col(rank_col).cast("long").alias("_pr"),
    )
    t = truth.where(F.col(rank_col) <= k).select(
        F.col(query_col).alias("query"),
        F.col(item_col).alias("item"),
    )
    per_truth = t.groupBy("query").agg(F.count(F.lit(1)).alias("n_truth"))
    hits = (
        t.join(p, ["query", "item"])
        .groupBy("query")
        .agg(
            F.count(F.lit(1)).alias("_n_hit"),
            F.min("_pr").alias("_best"),
        )
    )
    return (
        per_truth.join(hits, "query", "left")
        .select(
            "query",
            F.coalesce(F.col("_n_hit"), F.lit(0)).alias("n_hit"),
            "n_truth",
            "_best",
        )
        .select(
            "query",
            "n_hit",
            "n_truth",
            F.expr("(n_hit * 1000000) div n_truth").alias("recall_micro"),
            F.when(F.col("_best").isNotNull(), F.expr("1000000 div _best"))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("mrr_micro"),
        )
    )


# ------------------------------------------------------------------
# Product quantization (PQ): the memory-scale ANN technique — vectors
# compressed to m small codes (one per subspace), queries scored against
# codes via an asymmetric distance table (ADC), no full vectors touched
# at search time. At 100 TB the win is the storage/shuffle footprint:
# a 64-dim float vector (256 B) becomes m=4 bytes of codes.
# ------------------------------------------------------------------


def pq_seed_codebooks(
    m: int = 4, k: int = 16, dim: int = 64, seed: int = 31
) -> list[list[list[float]]]:
    """Deterministic md5-derived codebooks (k centroids per subspace of
    dim/m dims) — the oracle-checkable configuration, same philosophy as
    the IVF seed centroids."""
    sub = dim // m
    return [_planes(k, sub, seed + j) for j in range(m)]


def pq_encode(
    df: DataFrame, codebooks: list[list[list[float]]],
    id_col: str = "vec_id", vec: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>) — m nearest-centroid codes per vector,
    zero shuffle: encoding composes into the corpus scan as a
    projection."""
    return df.select(
        F.col(id_col).alias("id"),
        _pq_codes(F.col(vec), codebooks).alias("codes"),
    )


def pq_adc_topk(
    queries: DataFrame, corpus: DataFrame, codebooks: list[list[list[float]]],
    k: int = 3, id_q: str = "vec_id", id_c: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """ADC top-k: each query precomputes its m×k_cents distance table
    (true |q_j − c|² per subspace centroid — one row-local array), the
    corpus contributes ONLY codes, and a candidate's approximate distance
    is a fixed-order m-term table lookup sum — so the join moves 4-byte
    code arrays, never 256-byte vectors. The fold order (j = 0..m−1,
    left to right) is part of the contract: the DuckDB twin adds the same
    four doubles in the same order, making even the unrounded ranking
    comparable."""
    m = len(codebooks)
    kc = len(codebooks[0])
    codes = pq_encode(corpus, codebooks, id_col=id_c, vec=vec).select(
        F.col("id").alias("neighbor_id"), "codes"
    )
    q = queries.select(
        F.col(id_q).alias("query_id"),
        _pq_dtab(F.col(vec), codebooks).alias("dtab"),
    )
    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, j: acc
        + F.element_at(
            F.col("dtab"), (j * kc + F.element_at(F.col("codes"), j + 1) + 1).cast("int")
        ),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(codes)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", adc.alias("adc"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc", "rank")
    )


def ivfpq_adc_topk(
    queries: DataFrame, corpus: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 3, n_cells: int = 8, n_probe: int = 2, dim: int = 64,
    seed: int = 11,
    id_q: str = "vec_id", id_c: str = "vec_id", vec: str = "embedding",
) -> DataFrame:
    """IVF-PQ: the two memory-scale pieces composed the FAISS way —
    coarse cells bound WHICH candidates are scored (equi-join on cell,
    never a cross join), PQ codes bound WHAT the join moves (m bytes per
    candidate, never the vector). Corpus side is one projection (cell +
    codes); query side explodes its n_probe cells and carries its ADC
    distance table; the probe is an equi-join on cell followed by the
    same fixed-order m-term table-lookup sum as pq_adc_topk.

    This variant encodes the RAW vector (IVF-Flat-PQ) rather than the
    residual, so the codebooks are shared across cells and the whole
    operator stays oracle-expressible; residual encoding is a drop-in
    refinement (subtract the cell centroid literal before pq_encode) that
    changes only the encode/table expressions, not the join shape."""
    m = len(codebooks)
    kc = len(codebooks[0])
    cents = _planes(n_cells, dim, seed)
    c = corpus.select(
        F.col(id_c).alias("neighbor_id"),
        F.element_at(ivf_assign(F.col(vec), cents, 1), 1).alias("cell"),
        _pq_codes(F.col(vec), codebooks).alias("codes"),
    )
    q = queries.select(
        F.col(id_q).alias("query_id"),
        _pq_dtab(F.col(vec), codebooks).alias("dtab"),
        F.explode(ivf_assign(F.col(vec), cents, n_probe)).alias("cell"),
    )
    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, j: acc
        + F.element_at(
            F.col("dtab"), (j * kc + F.element_at(F.col("codes"), j + 1) + 1).cast("int")
        ),
    )
    cand = (
        F.broadcast(q).join(c, "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", adc.alias("adc"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc", "rank")
    )


def group_centroids_long(
    df: DataFrame, group_col: str, vec_col: str = "embedding",
    quant: int = 1_000_000,
) -> DataFrame:
    """Element-wise per-group centroids in LONG form: (group, dim,
    centroid) — the building block of k-means maintenance, per-source
    embedding drift monitoring, and IVF cell refresh.

    Scale + determinism shape: posexplode the vector (one generator, no
    UDF) → each component is quantized to integer micro-units BEFORE the
    sum, so the per-(group, dim) aggregate is an EXACT long sum — the
    float-addition-order dependence of sum(double) across partitions
    (which no engine pair, or even two runs of one engine, reproduces
    bit-for-bit) is gone by construction. centroid = sum_micro /
    (n * quant), one deterministic double division at the end — emitted
    at FULL precision: the division of exact operands is correctly
    rounded and therefore bit-identical on any IEEE-754 engine, whereas
    a display round(…, 6) re-introduces a tie hazard (s/n can land
    exactly on a half-micro boundary, where Spark's BigDecimal HALF_UP
    and another engine's float-multiply rounding may diverge; the
    rounding audit measured margin exactly 0 here). The shuffle carries
    (group, dim) pairs — map-side combinable, never a whole vector
    row."""
    exploded = df.select(
        F.col(group_col).alias("grp"),
        F.posexplode(_vecd(F.col(vec_col))).alias("dim", "v"),
    )
    q = exploded.withColumn(
        "v_micro", F.round(F.col("v") * F.lit(float(quant))).cast("long")
    )
    return (
        q.groupBy("grp", "dim")
        .agg(F.sum("v_micro").alias("s"), F.count("*").alias("n"))
        .select(
            F.col("grp").alias(group_col),
            F.col("dim").cast("long").alias("dim"),
            (
                F.col("s").cast("double") / (F.col("n") * F.lit(float(quant)))
            ).alias("centroid"),
        )
    )


def mutual_best_match(
    pairs: DataFrame,
    left_col: str = "query_id",
    right_col: str = "neighbor_id",
    score_col: str = "score",
) -> DataFrame:
    """Reciprocal best match over a scored pair table → (left, right,
    score) rows where each side is the other's argmax — the
    high-precision seed-pair extractor for entity alignment: when two
    KG builds (or an embedding space and a lexicon) must be linked,
    mutual-top-1 pairs are the near-certain anchors that bootstrap
    everything else, while one-directional best matches are polluted by
    hubs that are everyone's favorite without reciprocating.

    Deterministic argmax: highest score, ties broken by the SMALLEST
    partner id (row_number, the repo's pinned-tie discipline) — use an
    exact score (integer cents, micro-quantized cosine) for bit-stable
    results. Shape: two window passes over the same pair table (one
    shuffle per side's key) and one (left, right) equi-join of two
    argmax-thinned frames — each at most one row per key, so the join
    cannot fan out; no all-pairs stage. The oracle twin derives each
    argmax differently (max-score agg, then min-partner among the
    maxima) to keep the verification independent."""
    bl = (
        pairs.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy(left_col).orderBy(
                    F.desc(score_col), F.asc(right_col)
                )
            ),
        )
        .where(F.col("_rn") == 1)
        .select(
            F.col(left_col).alias("left"),
            F.col(right_col).alias("right"),
            F.col(score_col).alias("score"),
        )
    )
    br = (
        pairs.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy(right_col).orderBy(
                    F.desc(score_col), F.asc(left_col)
                )
            ),
        )
        .where(F.col("_rn") == 1)
        .select(
            F.col(left_col).alias("left"),
            F.col(right_col).alias("right"),
        )
    )
    return bl.join(br, ["left", "right"])


def gram_matrix(
    df: DataFrame, vec_col: str = "embedding", quant: int = 1000
) -> DataFrame:
    """Exact d×d Gram matrix of an embedding column → upper-triangle
    rows (i, j, g) with i ≤ j and g = Σ_rows v̂ᵢ·v̂ⱼ over milli-quantized
    components v̂ = round(v·quant): the distributed building block for
    PCA / whitening / covariance over 10^12 vectors — the data-sized
    pass reduces everything to a d(d+1)/2-cell matrix (metadata-sized,
    d=64 → 2080 longs), and the eigendecomposition that follows is a
    driver-side numpy call on that tiny result, never a Spark job.

    Exactness: quantize FIRST, multiply integers, sum in DECIMAL(38,0)
    — float dot products are order-dependent and would hash-differ
    across parallelism levels; integer products commute. With |v|≲1
    and quant=1000 each term is ≤ ~10^6, so even 10^12 rows stay
    within the decimal accumulator and the emitted long.

    Shape: per row one posexplode to (i, v̂ᵢ) then one posexplode of
    the TAIL SLICE from i (upper triangle only — half the generated
    rows; the matrix is symmetric), then a groupBy on (i, j): partial
    aggregation combines map-side, so the shuffle carries at most
    d(d+1)/2 rows per task regardless of data size. No join, no
    window, no Python."""
    q = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * F.lit(float(quant)))
        .cast("long"),
    )
    step1 = df.select(q.alias("_q")).select(
        F.posexplode("_q").alias("i", "_vi"), F.col("_q")
    )
    step2 = step1.select(
        "i",
        "_vi",
        F.posexplode(
            F.slice("_q", F.col("i") + 1, F.size("_q") - F.col("i"))
        ).alias("_p", "_vj"),
    )
    return (
        step2.select(
            F.col("i").cast("long").alias("i"),
            (F.col("i") + F.col("_p")).cast("long").alias("j"),
            (F.col("_vi") * F.col("_vj")).cast("decimal(38,0)")
            .alias("_prod"),
        )
        .groupBy("i", "j")
        .agg(F.sum("_prod").alias("_g"))
        .select("i", "j", F.col("_g").cast("long").alias("g"))
    )


def int8_quantize(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the production storage
    staple for embedding tables (4× smaller than float32 before PQ's
    lossier 32×; the usual first rung of the compression ladder this
    module's PQ/IVF-PQ sit above). Per vector: scale = max |v_i|,
    codes_i = round(v_i·127 / scale) ∈ [−127, 127], plus the exact
    reconstruction diagnostics a rollout gate needs:

        mse_micro = round(mean((v_i − codes_i·scale/127)²) · 1e6)
        max_err_micro = round(max |v_i − codes_i·scale/127| · 1e6)

    All array algebra (transform / aggregate), zero UDFs; codes are
    integers so downstream dot products can run in exact integer
    arithmetic per vector pair (the gram_matrix/centroid discipline).
    Zero vectors (scale = 0) emit all-zero codes and zero error. The
    rounding shapes are single fixed double expressions, so the SQL
    oracle replays every code and both diagnostics."""
    v = F.col(vec_col)
    scale = F.array_max(F.transform(v, lambda x: F.abs(x)))
    codes = F.when(F.col("_scale") > 0, F.transform(
        v, lambda x: F.round(x * F.lit(127.0) / F.col("_scale"))
        .cast("int"),
    )).otherwise(F.transform(v, lambda x: F.lit(0)))
    base = emb.select(
        F.col(id_col), v.alias(vec_col), scale.alias("_scale")
    ).withColumn("codes", codes)
    err = F.zip_with(
        F.col(vec_col), F.col("codes"),
        lambda x, c: x - c * F.col("_scale") / F.lit(127.0),
    )
    sq = F.aggregate(
        F.col("_err"), F.lit(0.0), lambda a, e: a + e * e
    )
    mx = F.aggregate(
        F.col("_err"), F.lit(0.0),
        lambda a, e: F.greatest(a, F.abs(e)),
    )
    n = F.size(F.col(vec_col))
    return (
        base.withColumn("_err", err)
        .select(
            id_col, "codes",
            F.col("_scale").alias("scale"),
            F.round(sq / n * F.lit(1_000_000.0)).cast("long")
            .alias("mse_micro"),
            F.round(mx * F.lit(1_000_000.0)).cast("long")
            .alias("max_err_micro"),
        )
    )
