"""Dedup / similarity / text-analysis / multimodal operators on the
driver testdata (sf0.001) and small synthetic frames."""

from __future__ import annotations

import pytest
from conftest import synth_clustered_embeddings
from pyspark.sql import functions as F

from biosd_feature_annotator_spark.operators import dedup, similarity, textstats
from biosd_feature_annotator_spark.operators.multimodal import (
    extract_features,
    synth_media,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    d = spark.read.parquet(f"{SF}/documents.parquet").persist()
    d.count()
    yield d
    d.unpersist()


@pytest.fixture(scope="module")
def emb(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet").persist()
    e.count()
    yield e
    e.unpersist()


# ------------------------------------------------------------------ dedup
def dup_frame(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog near the river bank"),
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup
        (2, "the quick brown fox jumps over the lazy dog near the river edge"),  # near dup
        (3, "completely different text about spark query engines and shuffles here"),
        (4, "THE  quick brown fox jumps over the lazy dog near the river bank"),  # norm dup
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark):
    df = dup_frame(spark)
    kept = sorted(r.doc_id for r in dedup.dedup_exact(df, "doc_id", "text").collect())
    assert kept == [0, 2, 3]  # 1 and 4 normalize to 0's text; min id survives


def test_minhash_near_duplicates(spark):
    df = dup_frame(spark)
    pairs = {
        (r.a, r.b): r.jaccard
        for r in dedup.minhash_near_duplicates(
            df, "doc_id", "text", shingle_n=3, num_hashes=16, bands=8, threshold=0.5
        ).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and 0.5 <= pairs[(0, 2)] < 1.0
    assert not any(3 in p for p in pairs)


def test_simhash_near_duplicates(spark):
    df = dup_frame(spark)
    sig = {r.doc: r.simhash for r in dedup.simhash(df, "doc_id", "text").collect()}
    assert sig[0] == sig[1] == sig[4]  # identical normalized text

    def hamming(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    # similarity monotonicity: one-word edit is closer than different text
    assert hamming(sig[0], sig[2]) < hamming(sig[0], sig[3])
    # banding guarantee: Hamming ≤ 3 pairs always share a 16-bit band —
    # identical docs (Hamming 0) must be found; unrelated docs must not
    pairs = {(r.a, r.b) for r in
             dedup.simhash_near_duplicates(df, "doc_id", "text", max_hamming=3).collect()}
    assert {(0, 1), (0, 4), (1, 4)} <= pairs
    assert not any(3 in p for p in pairs)


def test_ngram_jaccard(spark):
    df = dup_frame(spark)
    pairs = {(r.a, r.b): r.jaccard for r in
             dedup.ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.5).collect()}
    assert pairs[(0, 1)] == 1.0 and (0, 2) in pairs


def test_prefix_jaccard_exact_vs_bruteforce(docs):
    """Prefix filtering is EXACT: on real driver data it must emit the
    identical pair set as the uncapped brute-force inverted index, with
    jaccard == inter/uni for every pair."""
    d = docs.where("doc_id < 200")
    ref = {(r.a, r.b): r.jaccard for r in dedup.ngram_jaccard_pairs(
        d, "doc_id", "text", n=2, threshold=0.3, max_df=10**9).collect()}
    got = {(r.a, r.b): (r.inter, r.uni) for r in dedup.prefix_jaccard_pairs(
        d, "doc_id", "text", n=2, threshold=0.3).collect()}
    assert set(ref) == set(got) and len(got) > 0
    for k, (i, u) in got.items():
        assert abs(i / u - ref[k]) < 1e-6


def test_prefix_jaccard_integer_boundary(spark):
    """The float-hazard class the rational-τ arithmetic exists for:
    τ·|d| an exact integer. Two 5-shingle docs sharing exactly 4
    shingles (J = 4/6 < 0.8 → excluded) and two identical docs
    (J = 1 ≥ 0.8 → kept, found via a 1-token prefix that a float
    ⌊(1−0.8)·5⌋ = 0 prefix would never index)."""
    rows = [
        (0, "a b c d e f g"),   # 5 3-shingles
        (1, "a b c d e f g"),   # identical: J=1
        (2, "a b c d e f x"),   # shares 4 of 5: J=4/6
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r.a, r.b): (r.inter, r.uni) for r in
             dedup.prefix_jaccard_pairs(df, "doc_id", "text",
                                        n=3, threshold=0.8).collect()}
    assert pairs == {(0, 1): (5, 5)}


def test_prefix_jaccard_index_is_smaller(docs):
    """The point of the discipline: the prefix index carries a strict
    subset of the postings (≈(1−τ) of them), so the candidate self-join
    is on a much smaller relation than the full inverted index."""
    from pyspark.sql import Window

    d = docs.where("doc_id < 200")
    sh = dedup.word_shingles(d, "doc_id", "text", 2)
    dfreq = sh.groupBy("sh").agg(F.count("*").alias("df_"))
    by_doc = Window.partitionBy("doc")
    ranked = sh.join(dfreq, "sh").select(
        "doc",
        F.row_number().over(by_doc.orderBy("df_", "sh")).alias("pos"),
        F.count("*").over(by_doc).alias("sz"),
    )
    full = sh.count()
    pre = ranked.where(
        F.col("pos") <= F.col("sz") - F.expr("((8 * sz + 9)) div 10") + 1
    ).count()
    assert pre < full * 0.35  # τ=0.8 ⇒ ~20% + the +1 per doc


def test_dedup_on_documents_table(docs):
    # determinism + sanity on real driver data
    n = docs.count()
    assert dedup.dedup_exact(docs, "doc_id", "text").count() <= n
    sh = dedup.word_shingles(docs, "doc_id", "text", 3)
    assert sh.groupBy("doc", "sh").count().where("count > 1").count() == 0


# ------------------------------------------------------------- similarity
def test_cosine_topk_self_is_excluded(emb):
    q = emb.where("vec_id < 5")
    res = similarity.cosine_topk(q, emb, k=3)
    rows = res.collect()
    assert len(rows) == 15
    assert all(r.query_id != r.neighbor_id for r in rows)
    assert all(-1.0001 <= r.cos <= 1.0001 for r in rows)


def test_lsh_recall_vs_bruteforce(emb):
    q = emb.where("vec_id < 20")
    exact = {(r.query_id, r.neighbor_id) for r in
             similarity.cosine_topk(q, emb, k=1).collect()}
    ann = {(r.query_id, r.neighbor_id) for r in
           similarity.lsh_cosine_topk(q, emb, k=1, n_planes=12, bands=6, dim=64).collect()}
    # recall@1 of the banded LSH against brute force — generous bound,
    # the point is the plumbing is sound, not a tuned index
    recall = len(exact & ann) / len(exact)
    assert recall >= 0.5, f"recall {recall}"


def test_cosine_pairs_threshold(emb):
    res = similarity.cosine_pairs_above(emb, threshold=0.9, limit_ids=50)
    assert all(r.a < r.b for r in res.collect())


# -------------------------------------------------------------- textstats
def test_token_counts(spark):
    df = spark.createDataFrame(
        [("a b  c",), ("",), (None,), ("hello, world! 42",)], "text string"
    )
    got = df.select(textstats.token_count("text").alias("n")).collect()
    assert [r.n for r in got] == [3, 0, 0, 3]
    bpe = df.select(textstats.bpe_ish_token_count(F.col("text")).alias("n")).collect()
    assert bpe[3].n == 5  # ['hello', ',', 'world', '!', '42']


def test_detect_lang(spark):
    df = spark.createDataFrame(
        [
            ("the cat and the dog is in the house", "en"),
            ("el perro y la casa de los gatos", "es"),
            ("der hund und die katze ist ein tier", "de"),
            ("zzz qqq xxx", "und"),
        ],
        "text string, want string",
    )
    got = df.select("want", textstats.detect_lang(F.col("text")).alias("got")).collect()
    assert all(r.want == r.got for r in got)


def test_quality_features(docs):
    q = textstats.quality_features(docs)
    rows = q.select("q_score", "q_tokens", "q_punct_ratio").collect()
    assert all(0.0 <= r.q_score <= 1.0 for r in rows)
    assert all(r.q_tokens > 0 for r in rows)


def test_fingerprints(spark):
    df = spark.createDataFrame(
        [(0, "Hello   World"), (1, "hello world"), (2, "other text")],
        "id long, text string",
    )
    fps = df.select("id", textstats.doc_fingerprint(F.col("text")).alias("fp")).collect()
    by = {r.id: r.fp for r in fps}
    assert by[0] == by[1] != by[2]  # normalization-stable
    w = df.select("id", textstats.winnow_fingerprints(F.col("text")).alias("w")).collect()
    wby = {r.id: tuple(r.w) for r in w}
    assert wby[0] == wby[1] != wby[2]


# -------------------------------------------------- repetition / scrubbing
def test_repetition_features_hand_computed(spark):
    d = spark.createDataFrame(
        [(0, "a b a b c"), (1, "x x x x"), (2, "all tokens unique here")],
        "doc_id int, text string",
    )
    rows = {r.doc_id: r for r in textstats.repetition_features(d).collect()}
    # "a b a b c": 5 toks, 3 distinct; max bigram "a b"×2; no dup 3-gram
    assert rows[0].n_tokens == 5
    assert rows[0].word_rep_frac == pytest.approx(0.4)
    assert rows[0].top2_cov == pytest.approx(0.8)
    assert rows[0].dup3_frac == 0.0
    # "x x x x": overlapping runs — top2_cov may exceed 1 by design
    # (2·count of "x x"(×3) / 4); both 3-gram positions duplicated
    assert rows[1].word_rep_frac == pytest.approx(0.75)
    assert rows[1].top2_cov == pytest.approx(1.5)
    assert rows[1].dup3_frac == pytest.approx(1.0)
    assert (rows[2].word_rep_frac, rows[2].top2_cov, rows[2].dup3_frac) == (
        0.0, 0.5, 0.0)  # unique toks: every bigram count 1 → 2·1/4


def test_scrub_pii_hand_computed(spark):
    from biosd_feature_annotator_spark.operators.scrub import (
        scrub_features,
        synth_pii_texts,
    )

    rows = {r.doc_id: r
            for r in scrub_features(synth_pii_texts(spark, 6)).collect()}
    assert (rows[0].n_email, rows[0].n_phone, rows[0].n_ip) == (0, 0, 0)
    assert rows[0].scrubbed == "no contact info in record 0"
    assert (rows[1].n_email, rows[1].n_phone, rows[1].n_ip) == (1, 1, 1)
    assert rows[1].scrubbed == (
        "reach user <EMAIL> from <IP> or call <PHONE> about batch 1"
    )
    # a hand-written line exercising boundaries the fixture doesn't
    d = spark.createDataFrame(
        [(9, "a.b-c@x.io,10.0.0.1 555-12-1234 555-123-4567")],
        "doc_id int, text string",
    )
    r = scrub_features(d).collect()[0]
    # 555-12-1234 is NOT a phone (middle group needs 3-4 digits)
    assert (r.n_email, r.n_phone, r.n_ip) == (1, 1, 1)
    assert r.scrubbed == "<EMAIL>,<IP> 555-12-1234 <PHONE>"


# -------------------------------------------------------------- multimodal
def test_multimodal_features(spark):
    media = synth_media(spark, 30)
    feats = extract_features(media, dim=8, fake=True)
    rows = feats.collect()
    assert len(rows) == 30
    assert all(len(r.feature) == 8 for r in rows)
    # deterministic: same payload → same feature
    again = {r.media_id: r.feature for r in extract_features(media, dim=8).collect()}
    assert all(again[r.media_id] == r.feature for r in rows)


def test_multimodal_real_decode_rejects_unparseable(spark):
    """fake=False runs the REAL codecs: raw hash bytes are not a valid
    BMP/PGM/WAV payload, so the decode fails at action time (ValueError
    inside the task, surfaced through the Python worker)."""
    from pyspark.errors.exceptions.captured import PythonException

    media = synth_media(spark, 2)
    with pytest.raises(PythonException, match="unrecognized payload"):
        extract_features(media, fake=False).collect()


def test_multimodal_real_codecs_roundtrip():
    """Library-free codecs invert the encoders byte-exactly, including
    the cases the synth fixture does NOT cover: padded BMP rows (pad
    bytes excluded from stats), top-down BMP (negative height), and a
    WAV with a non-canonical extra chunk before data."""
    import struct

    import numpy as np

    from biosd_feature_annotator_spark.operators import multimodal as M

    for i in range(9):
        enc = (M._enc_bmp, M._enc_pgm, M._enc_wav)[i % 3]
        fmt, w, h, rate, vals = M.sniff_decode(enc(i))
        if i % 3 == 0:
            assert (fmt, w, h, rate) == (
                "bmp", 4 * (1 + (i // 3) % 3), 3 + (i // 3) % 4, None)
            nv = 3 * w * h
        elif i % 3 == 1:
            assert (fmt, w, h, rate) == (
                "pgm", 5 + (i // 3) % 7, 4 + (i // 3) % 5, None)
            nv = w * h
        else:
            assert (fmt, w, h) == ("wav", None, None)
            assert rate == 8000 + 100 * ((i // 3) % 40)
            nv = 20 + (i // 3) % 13
        exp = M._digest_tile(i, nv)
        assert vals.size == nv
        assert int(vals.astype(np.int64).sum()) == int(exp.astype(np.int64).sum())

    # padded BMP (w=5 → rowbytes 15 padded to 16): 0xAA pads excluded
    w, h = 5, 2
    px = (bytes(range(15)) + b"\xaa") * h
    hdr = struct.pack("<2sIHHI", b"BM", 54 + len(px), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(px), 0, 0, 0, 0)
    _, dw, dh, _, vals = M.sniff_decode(hdr + dib + px)
    assert (dw, dh, vals.size) == (5, 2, 30)
    assert int(vals.astype(np.int64).sum()) == 2 * sum(range(15))
    # top-down BMP: negative height, same stats
    dib2 = struct.pack("<IiiHHIIiiII", 40, w, -h, 1, 24, 0, len(px), 0, 0, 0, 0)
    _, _, dh2, _, vals2 = M.sniff_decode(hdr + dib2 + px)
    assert dh2 == 2 and int(vals2.astype(np.int64).sum()) == 2 * sum(range(15))
    # WAV with an extra LIST chunk before data: chunk scan, not offset 36
    wv = M._enc_wav(5)
    extra = b"LIST" + struct.pack("<I", 4) + b"info"
    p2 = wv[:36] + extra + wv[36:]
    fmt3, _, _, r3, vals3 = M.sniff_decode(
        b"RIFF" + struct.pack("<I", len(p2) - 8) + p2[8:]
    )
    assert fmt3 == "wav" and r3 == 8000 + 100 * ((5 // 3) % 40)
    assert vals3.size == 20 + (5 // 3) % 13


def test_multimodal_real_features_from_decoded_bytes(spark):
    """fake=False feature vectors are built from the ACTUALLY decoded
    sample values (first dim values / 256), not the payload bytes."""
    import numpy as np

    from biosd_feature_annotator_spark.operators import multimodal as M

    media = M.synth_media_real(spark, 9)
    rows = {r.media_id: r.feature
            for r in M.extract_features(media, dim=8, fake=False).collect()}
    assert len(rows) == 9
    for i in range(9):
        vals = M.sniff_decode((M._enc_bmp, M._enc_pgm, M._enc_wav)[i % 3](i))[4]
        reps = int(np.ceil(8 / vals.size))
        want = (np.tile(vals, reps)[:8].astype(np.float32) / 256.0).tolist()
        assert rows[f"m{i}"] == pytest.approx(want)


def test_ivf_topk_recall(emb):
    """IVF cells + probing find a decent share of true nearest neighbors —
    generous bound (untrained hash-derived centroids; the contract is the
    candidate-generation shape, not a tuned index)."""
    q = emb.where("vec_id < 20")
    exact = {(r.query_id, r.neighbor_id) for r in
             similarity.cosine_topk(q, emb, k=1).collect()}
    ivf = {(r.query_id, r.neighbor_id) for r in
           similarity.ivf_cosine_topk(q, emb, k=1, n_cells=8, n_probe=3, dim=64).collect()}
    recall = len(exact & ivf) / len(exact)
    assert recall >= 0.4, f"recall {recall}"
    # every query got k results (cells are never empty at these sizes)
    by_q = {}
    for qq, _ in ivf:
        by_q[qq] = by_q.get(qq, 0) + 1
    assert len(by_q) == len(exact)


def test_pq_encode_and_adc_agree_with_bruteforce_on_codes(spark):
    """PQ plumbing invariants: codes are in range, deterministic, and a
    candidate sharing ALL codes with the query ranks by neighbor_id
    (bitwise-equal ADC)."""
    from biosd_feature_annotator_spark.operators import similarity as S

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    cbs = S.pq_seed_codebooks(m=4, k=16, dim=64)
    codes = S.pq_encode(e, cbs).collect()
    assert len(codes) == e.count()
    assert all(len(r.codes) == 4 and all(0 <= c < 16 for c in r.codes)
               for r in codes)
    again = {r.id: r.codes for r in S.pq_encode(e, cbs).collect()}
    assert all(again[r.id] == r.codes for r in codes)
    top = S.pq_adc_topk(e.where("vec_id < 5"), e, cbs, k=3)
    rows = top.collect()
    assert {r.query_id for r in rows} == {0, 1, 2, 3, 4}
    assert all(r.adc >= 0 for r in rows)


def test_decontaminate_flags_ngram_overlap(spark):
    """A train doc containing a verbatim 6-token span from the eval set
    is flagged; an unrelated doc is not; hits count DISTINCT shared
    spans (a span repeated across eval docs counts once)."""
    from biosd_feature_annotator_spark.operators.training import decontaminate

    bench = "what is the capital of france and when was it founded"
    ev = spark.createDataFrame(
        [(100, bench), (101, bench + " exactly")],  # same spans twice in eval
        ["doc_id", "text"],
    )
    tr = spark.createDataFrame(
        [
            (0, "quiz answer: what is the capital of france according to you"),
            (1, "an entirely different training document about spark shuffles"),
            (2, bench),  # full copy of the benchmark
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in decontaminate(tr, ev, n=6).collect()}
    assert out[0].contaminated and out[0].contam_hits >= 1
    assert not out[1].contaminated and out[1].contam_hits == 0
    assert out[2].contaminated and out[2].contam_hits > out[0].contam_hits
    # doc 2 shares every span of the benchmark sentence: 11 tokens → 6 spans
    assert out[2].contam_hits == 6


def test_mix_sources_deterministic_sqrt_rebalance(spark):
    """Rarest source kept whole; kept counts ∝ sqrt(n_s); the keep set
    is a pure projection of the id (identical on rerun and disjoint from
    hash_split digits)."""
    from biosd_feature_annotator_spark.operators.training import mix_sources

    rows = [(i, "big" if i < 6400 else "rare") for i in range(6800)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    kept = mix_sources(df, "doc_id", "source", alpha=0.5)
    counts = {r.source: r.n for r in kept.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert counts["rare"] == 400  # cut = round(sqrt(1)*10000) → keep all
    # big: cut = round(sqrt(400/6400)*10000) = 2500 → ~25% of 6400
    assert abs(counts["big"] - 1600) < 160
    ids1 = sorted(r.doc_id for r in kept.select("doc_id").collect())
    ids2 = sorted(r.doc_id for r in mix_sources(df, "doc_id", "source", alpha=0.5).select("doc_id").collect())
    assert ids1 == ids2
    # alpha=1 keeps the natural mix untouched
    assert mix_sources(df, "doc_id", "source", alpha=1.0).count() == 6800


def test_hash_split_deterministic_and_proportional(spark):
    from biosd_feature_annotator_spark.operators.training import hash_split

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    s1 = hash_split(d, "doc_id").select("doc_id", "bucket", "split")
    s2 = hash_split(d.repartition(7), "doc_id").select("doc_id", "bucket", "split")
    # stable under repartitioning (pure function of the id)
    assert sorted(map(tuple, s1.collect())) == sorted(map(tuple, s2.collect()))
    counts = dict(
        (r["split"], r["n"])
        for r in s1.groupBy("split").agg(F.count("*").alias("n")).collect()
    )
    n = sum(counts.values())
    assert 0.7 < counts["train"] / n < 0.9  # ~80/10/10 at 500 docs
    import pytest as _pytest

    with _pytest.raises(ValueError):
        hash_split(d, "doc_id", weights={"train": 50, "test": 10})


def test_pack_greedy_bins_are_contiguous_fill(spark):
    from biosd_feature_annotator_spark.operators.training import pack_greedy

    rows = [(i, "s", t) for i, t in enumerate([100, 200, 150, 300, 50, 400, 120])]
    df = spark.createDataFrame(rows, "doc_id int, source string, n int")
    out = pack_greedy(df, "doc_id", "n", budget=300, part_col="source")
    got = {r["doc_id"]: r["bin"] for r in out.collect()}
    # cum_before: 0,100,300,450,750,800,1200 → bins 0,0,1,1,2,2,4
    assert got == {0: 0, 1: 0, 2: 1, 3: 1, 4: 2, 5: 2, 6: 4}


def test_khop_min_hop_semantics(spark):
    from biosd_feature_annotator_spark.operators.graph import khop

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("a", "x"), ("x", "c")],
        "src string, dst string",
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    got = {r["node"]: r["hop"] for r in khop(edges, seeds, k=2).collect()}
    # c is reachable at hop 2 via b AND via x — exactly one row, hop 2
    assert got == {"a": 0, "b": 1, "x": 1, "c": 2}
    directed = {r["node"]: r["hop"]
                for r in khop(edges.select(F.col("dst").alias("src"),
                                           F.col("src").alias("dst")),
                              seeds, k=2, directed=True).collect()}
    assert directed == {"a": 0}  # reversed edges: nothing reachable from a


def test_pagerank_fixed_iterations(spark):
    """PageRank sanity on a hand graph: a node with more in-links ranks
    higher; values are deterministic across parallelism; all pr > 0."""
    from biosd_feature_annotator_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "c"), ("b", "c"), ("d", "c"), ("c", "a"), ("b", "a")],
        "src string, dst string",
    )
    pr1 = {r["node"]: r["pr"] for r in pagerank(edges, n_nodes=4, iters=3).collect()}
    pr2 = {r["node"]: r["pr"]
           for r in pagerank(edges.repartition(7), n_nodes=4, iters=3).collect()}
    assert pr1 == pr2
    assert pr1["c"] > pr1["a"] > pr1["b"]  # 3 in-links > 2 > 0-ish
    assert all(v > 0 for v in pr1.values())
    assert set(pr1) == {"a", "b", "c", "d"}


def test_curate_documents_stage_order(spark):
    """dedup runs AFTER the quality filter: a low-quality duplicate must
    not shadow a qualifying copy, and the survivor is the min qualifying
    id."""
    from biosd_feature_annotator_spark.operators.training import curate_documents

    good = "a sensible sentence with plenty of distinct readable words here"
    rows = [
        (1, "x x x x x x x x x x x x"),  # low quality (repetition)
        (2, good),                        # duplicate pair, both qualify
        (3, good),
        (4, "another perfectly reasonable and varied document body text"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.split for r in curate_documents(d).collect()}
    assert 1 not in got          # filtered by quality
    assert 2 in got and 3 not in got  # min-id survivor of the dup pair
    assert 4 in got
    assert set(got.values()) <= {"train", "valid", "test"}


def test_partial_agg_states_merge_exactly(spark):
    from pyspark.sql import functions as F

    from biosd_feature_annotator_spark.plans.materialize import (
        merge_agg_states,
        partial_agg_state,
    )

    df = spark.range(0, 1000).select(
        (F.col("id") % 7).alias("k"),
        (F.col("id") * 3 % 101).cast("decimal(18,2)").alias("v"),
    )
    runs = [df.where("id % 3 = 0"), df.where("id % 3 = 1"), df.where("id % 3 = 2")]
    merged = merge_agg_states(
        [partial_agg_state(r, ["k"], "v") for r in runs], ["k"]
    )
    direct = partial_agg_state(df, ["k"], "v")
    a = sorted(map(tuple, merged.collect()))
    b = sorted(map(tuple, direct.collect()))
    assert a == b


def test_semantic_dedup_drops_near_identical_in_cluster(spark):
    """Clustered fixture: same-cluster vectors are near-parallel, so at a
    high threshold every cluster keeps exactly its lowest-id member; the
    flagged frame covers every input row; rerun is identical."""
    from biosd_feature_annotator_spark.operators import similarity as S

    e = synth_clustered_embeddings(
        spark, 200, dim=32, k_centers=4, sigma=0.05
    ).cache()
    n = e.count()
    out = S.semantic_dedup(e, threshold=0.98, n_cells=8, dim=32)
    rows = out.collect()
    assert len(rows) == n
    kept = [r.id for r in rows if r.kept]
    # survivors are each cell's minimum id among its mutually-similar runs:
    # every dropped row must have a lower-id survivor in the same cell
    by_cell = {}
    for r in rows:
        by_cell.setdefault(r.cell, []).append(r)
    for cell, rs in by_cell.items():
        min_id = min(r.id for r in rs)
        assert any(r.id == min_id and r.kept for r in rs)
    # high-σ clusters at 0.98 must actually drop something
    assert 0 < len(kept) < n
    again = {r.id: r.kept for r in S.semantic_dedup(
        e, threshold=0.98, n_cells=8, dim=32).collect()}
    assert all(again[r.id] == r.kept for r in rows)
    e.unpersist()


def test_linear_quality_score_and_training(spark, docs):
    """Frozen-prior scoring: q_keep ≡ (q_logit > 0), finite logits."""
    import math

    from biosd_feature_annotator_spark.operators.training import (
        linear_quality_score,
    )

    scored = linear_quality_score(docs).select("doc_id", "q_logit", "q_keep")
    for r in scored.collect():
        assert math.isfinite(r.q_logit)
        assert r.q_keep == (r.q_logit > 0)


def test_filtered_topk_respects_metadata_predicate(spark, emb):
    """Every returned neighbor satisfies the corpus predicate, and ranks
    are dense 1..k per query."""
    from biosd_feature_annotator_spark.operators import similarity as S

    q = emb.where(F.col("vec_id") < 5)
    corpus = emb.where(F.col("label") % 2 == 0)
    out = S.cosine_topk(q, corpus, k=4).collect()
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    for r in out:
        assert labels[r.neighbor_id] % 2 == 0
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r.rank)
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_ivfpq_full_probe_equals_pq(spark, emb):
    """With n_probe = n_cells the IVF stage filters nothing, so IVF-PQ
    must return exactly pq_adc_topk's result (bitwise ADC, same ranks);
    with n_probe=1 every candidate shares the query's top cell."""
    from biosd_feature_annotator_spark.operators import similarity as S

    cbs = S.pq_seed_codebooks(m=4, k=16, dim=64)
    q = emb.where(F.col("vec_id") < 5)
    full = {
        (r.query_id, r.rank): (r.neighbor_id, r.adc)
        for r in S.ivfpq_adc_topk(q, emb, cbs, k=3, n_cells=8,
                                  n_probe=8, dim=64).collect()
    }
    pq = {
        (r.query_id, r.rank): (r.neighbor_id, r.adc)
        for r in S.pq_adc_topk(q, emb, cbs, k=3).collect()
    }
    assert full == pq
    cents = S._planes(8, 64, seed=11)
    cell_of = {
        r.vec_id: r.c
        for r in emb.select(
            "vec_id",
            F.element_at(S.ivf_assign(F.col("embedding"), cents, 1), 1).alias("c"),
        ).collect()
    }
    probe1 = S.ivfpq_adc_topk(q, emb, cbs, k=3, n_cells=8, n_probe=1,
                              dim=64).collect()
    for r in probe1:
        assert cell_of[r.neighbor_id] == cell_of[r.query_id]


def test_weighted_sample_deterministic_and_monotone(docs):
    from biosd_feature_annotator_spark.operators.training import weighted_sample

    a = sorted(r.doc_id for r in
               weighted_sample(docs, "doc_id", "n_chars", 1 / 4000).collect())
    b = sorted(r.doc_id for r in
               weighted_sample(docs.repartition(17), "doc_id", "n_chars",
                               1 / 4000).collect())
    assert a == b and 0 < len(a) < docs.count()
    # rate high enough that min(1, rate*w) == 1 for every row: keep all
    assert weighted_sample(docs, "doc_id", "n_chars", 1.0).count() == docs.count()
    # monotone in rate: a lower rate's sample is a subset
    lo = {r.doc_id for r in
          weighted_sample(docs, "doc_id", "n_chars", 1 / 8000).collect()}
    assert lo <= set(a)


def test_weighted_sample_tracks_expected_mass(docs):
    from biosd_feature_annotator_spark.operators.training import weighted_sample

    rate = 1 / 4000
    expected, var = docs.select(
        F.sum(F.least(F.lit(1.0), F.lit(rate) * F.col("n_chars"))),
        F.sum(
            F.least(F.lit(1.0), F.lit(rate) * F.col("n_chars"))
            * (1 - F.least(F.lit(1.0), F.lit(rate) * F.col("n_chars")))
        ),
    ).first()
    got = weighted_sample(docs, "doc_id", "n_chars", rate).count()
    # Poisson-binomial 4σ bound (one fixed hash draw per id, so this is
    # a single realization — the bound just catches gross bias)
    assert abs(got - expected) <= 4 * var ** 0.5, (got, expected, var)


def _labeled_corpus(spark, n_docs: int, words_per_doc: int):
    """Deterministic labeled corpus whose TEXT actually carries the
    language signal (the testdata `documents` table's lang column is a
    label drawn independently of its text). Five small vocabularies
    with characteristic character statistics; word j of doc i is picked
    by md5(i:j) — no RNG state, identical on every machine."""
    import hashlib

    vocabs = {
        "en": ["the", "and", "with", "from", "house", "water", "light",
               "think", "would", "people", "about", "which", "their",
               "there", "where", "should", "through", "nothing"],
        "de": ["und", "nicht", "schnell", "haus", "wasser", "licht",
               "denken", "würde", "menschen", "über", "welche", "ihre",
               "zeitung", "straße", "mädchen", "fünf", "zwischen"],
        "es": ["información", "corazón", "también", "después", "canción",
               "pequeño", "trabajo", "tiempo", "ciudad", "mujer", "nueva",
               "años", "día", "señor", "aquí", "cuándo", "niño"],
        "fr": ["été", "français", "être", "avec", "maison", "eau",
               "lumière", "penser", "gens", "leur", "où", "chanson",
               "travail", "temps", "aujourd'hui", "garçon", "château"],
        "zh": ["中国", "人民", "学习", "工作", "时间", "朋友", "学校",
               "老师", "电脑", "手机", "城市", "音乐", "快乐", "谢谢"],
    }
    langs = sorted(vocabs)
    rows = []
    for i in range(n_docs):
        lang = langs[i % len(langs)]
        v = vocabs[lang]
        words = [
            v[int(hashlib.md5(f"{i}:{j}".encode()).hexdigest()[:8], 16) % len(v)]
            for j in range(words_per_doc)
        ]
        rows.append((i, lang, " ".join(words)))
    return spark.createDataFrame(rows, "doc_id long, lang string, text string")


def test_langid_trained_beats_heldout(spark):
    """Trained char-trigram NB langid (textstats.train_langid) on the
    deterministic labeled fixture: ≥0.9 held-out accuracy (the driver
    documents table cannot show this — its lang label is independent of
    its text), 'und' for gram-less docs, repartition-identical."""
    from biosd_feature_annotator_spark.operators.training import hash_split

    corpus = _labeled_corpus(spark, 300, 25)
    split = hash_split(corpus, "doc_id")
    train = split.where("split = 'train'")
    test = split.where("split != 'train'")
    profiles, defaults = textstats.train_langid(train)
    pred = textstats.langid_predict(test, profiles, defaults)
    joined = pred.join(test.select("doc_id", "lang"), "doc_id")
    n = joined.count()
    acc = joined.where("lang_pred = lang").count() / n
    assert n > 40 and acc >= 0.9, (n, acc)
    p2 = textstats.langid_predict(test.repartition(13), profiles, defaults)
    assert sorted(map(tuple, pred.collect())) == sorted(map(tuple, p2.collect()))
    # gram-less doc (text shorter than n chars) → 'und'
    tiny = spark.createDataFrame([(999, "hi")], "doc_id long, text string")
    got = textstats.langid_predict(tiny, profiles, defaults).collect()
    assert [(r.doc_id, r.lang_pred, r.score_micro) for r in got] == [(999, "und", 0)]


def test_char_ngrams_hand_values(spark):
    df = spark.createDataFrame([("AB  cd",), ("ab",), (None,)], "text string")
    got = [r.g for r in df.select(
        textstats.char_ngrams(F.col("text"), 3).alias("g")).collect()]
    assert got[0] == ["ab ", "b c", " cd"]  # normalized: 'ab cd'
    assert got[1] == []
    assert got[2] is None or got[2] == []


def test_chunk_documents_coverage_and_overlap(spark):
    from biosd_feature_annotator_spark.operators.training import chunk_documents

    df = spark.createDataFrame(
        [(1, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"),   # 10 toks, 3 windows
         (2, "a b c"),                             # short: one window
         (3, "   "),                               # token-less: dropped
         (4, "x")],
        "doc_id long, text string")
    out = chunk_documents(df, "doc_id", "text", 4, 3)
    rows = {(r.doc_id, r.chunk_id): r for r in out.collect()}
    assert {k[0] for k in rows} == {1, 2, 4}
    # doc 1: starts 0,3,6; every token index covered; stride-3 overlap
    assert [rows[(1, i)].chunk_start for i in range(3)] == [0, 3, 6]
    assert rows[(1, 1)].chunk_text == "t3 t4 t5 t6"
    covered = set()
    for i in range(3):
        r = rows[(1, i)]
        assert r.n_chunks == 3 and r.n_chunk_tokens == 4
        covered |= set(range(r.chunk_start, r.chunk_start + r.n_chunk_tokens))
    assert covered == set(range(10))
    assert rows[(2, 0)].chunk_text == "a b c" and rows[(2, 0)].n_chunk_tokens == 3
    assert rows[(4, 0)].n_chunks == 1


def test_chunk_documents_disjoint_default_reconstructs(spark):
    from biosd_feature_annotator_spark.operators.training import chunk_documents

    text = " ".join(f"w{i}" for i in range(11))
    df = spark.createDataFrame([(7, text)], "doc_id long, text string")
    out = chunk_documents(df, "doc_id", "text", 4).orderBy("chunk_id").collect()
    # default stride == chunk: disjoint blocks whose concatenation is the
    # normalized document, short tail explicit
    assert [r.n_chunk_tokens for r in out] == [4, 4, 3]
    assert " ".join(r.chunk_text for r in out) == text


def test_chunk_documents_rejects_bad_stride(spark):
    from biosd_feature_annotator_spark.operators.training import chunk_documents

    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        chunk_documents(df, "doc_id", "text", 4, 5)
    with pytest.raises(ValueError):
        chunk_documents(df, "doc_id", "text", 4, 0)


def test_containment_directed_asymmetry(spark):
    # A's 2-shingles are a subset of B's; B also has many of its own.
    a_text = "x y z w"
    b_text = "p q x y z w r s t u"
    df = spark.createDataFrame(
        [(1, a_text), (2, b_text), (3, "unrelated words only here")],
        "doc_id long, text string")
    out = {(r.a, r.b): r
           for r in dedup.containment_pairs(
               df, "doc_id", "text", n=2, threshold=0.9).collect()}
    # A (3 shingles, all shared) is fully contained in B...
    r = out[(1, 2)]
    assert (r.inter, r.sa) == (3, 3)
    # ...but B (9 shingles, 3 shared) is NOT 0.9-contained in A,
    # and the unrelated doc pairs with nothing
    assert (2, 1) not in out
    assert not any(3 in k for k in out)


def test_containment_equals_bruteforce(docs):
    d = docs.where("doc_id < 150")
    got = {(r.a, r.b, r.inter, r.sa, r.sb)
           for r in dedup.containment_pairs(
               d, "doc_id", "text", n=2, threshold=0.5).collect()}
    sh = dedup.word_shingles(d, "doc_id", "text", 2)
    sz = sh.groupBy("doc").agg(F.count("*").alias("s"))
    brute = (
        sh.alias("x").join(sh.alias("y"), "sh")
        .where("x.doc <> y.doc")
        .groupBy(F.col("x.doc").alias("a"), F.col("y.doc").alias("b"))
        .agg(F.count("*").alias("inter"))
        .join(sz.select(F.col("doc").alias("a"), F.col("s").alias("sa")), "a")
        .join(sz.select(F.col("doc").alias("b"), F.col("s").alias("sb")), "b")
        .where("inter * 2 >= sa")
    )
    want = {(r.a, r.b, r.inter, r.sa, r.sb) for r in brute.collect()}
    assert got == want and len(got) > 0


def test_containment_integer_boundary(spark):
    # tau = 1/2 with |A| even: ceil(0.5*4) = 2 exactly — a float
    # 0.4999... prefix computation would mis-size the prefix
    df = spark.createDataFrame(
        [(1, "a b c d e"),          # 4 shingles
         (2, "a b c x y z")],       # shares exactly 2 of them ("a b","b c")
        "doc_id long, text string")
    out = {(r.a, r.b): (r.inter, r.sa)
           for r in dedup.containment_pairs(
               df, "doc_id", "text", n=2, threshold=0.5).collect()}
    assert out[(1, 2)] == (2, 4)  # 2/4 == tau exactly: must be included


def test_shard_rendezvous_minimal_movement(spark):
    from biosd_feature_annotator_spark.operators.training import shard_rendezvous

    df = spark.range(0, 3000).withColumnRenamed("id", "doc_id")
    s8 = {r.doc_id: r.shard
          for r in shard_rendezvous(df, "doc_id", 8).collect()}
    s9 = {r.doc_id: r.shard
          for r in shard_rendezvous(df, "doc_id", 9).collect()}
    moved = [i for i in s8 if s8[i] != s9[i]]
    # THE rendezvous property: every moved row moved TO the new shard
    assert moved and all(s9[i] == 8 for i in moved)
    # expected 1/9 of rows move; generous 4-sigma-ish band
    assert 0.05 <= len(moved) / len(s8) <= 0.18
    # rows that didn't move kept their shard verbatim (trivially true by
    # construction of `moved`, but assert the complement is the majority)
    assert len(moved) < len(s8) / 2


def test_shard_rendezvous_uniform_and_deterministic(spark):
    from biosd_feature_annotator_spark.operators.training import shard_rendezvous

    df = spark.range(0, 4000).withColumnRenamed("id", "doc_id")
    out = shard_rendezvous(df, "doc_id", 8)
    by = {r.shard: r.n
          for r in out.groupBy("shard").agg(F.count("*").alias("n")).collect()}
    assert set(by) == set(range(8))
    assert all(350 <= n <= 650 for n in by.values())  # ~500 each
    again = {(r.doc_id, r.shard)
             for r in shard_rendezvous(df.repartition(13), "doc_id", 8).collect()}
    assert again == {(r.doc_id, r.shard) for r in out.collect()}


# --------------------------------------------------- r5: negative sampling


def _neg_reference(edges, k, buckets=64, salt="neg"):
    """Pure-python replica of negative_edges (md5 digits, bucket
    indexing, filtered anti-join) — brute-force ground truth."""
    import hashlib

    def h15(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    e = sorted(set(edges))
    pool = sorted({d for _, d in e})
    by_bucket = {}
    for d in pool:
        by_bucket.setdefault(h15(f"{d}#{salt}pool") % buckets, []).append(d)
    indexed = []
    for b in sorted(by_bucket):
        indexed.extend(sorted(by_bucket[b]))
    out = set()
    eset = set(e)
    for s, d in e:
        for j in range(1, k + 1):
            dn = indexed[h15(f"{s}#{d}#{j}#{salt}") % len(pool)]
            if (s, dn) not in eset:
                out.add((s, d, j, dn))
    return out


def test_negative_edges_matches_python_replica(spark):
    from biosd_feature_annotator_spark.operators.training import negative_edges

    edges = [(i % 9, 100 + (i * 7) % 23) for i in range(40)]
    df = spark.createDataFrame(sorted(set(edges)), "src long, dst long")
    got = {(r.src, r.dst, r.j, r.dst_neg)
           for r in negative_edges(df, k=3).collect()}
    assert got == _neg_reference(edges, 3)
    assert len(got) > 0


def test_negative_edges_never_emits_a_positive(spark):
    from biosd_feature_annotator_spark.operators.training import negative_edges

    edges = [(i % 5, 100 + i % 11) for i in range(30)]
    df = spark.createDataFrame(sorted(set(edges)), "src long, dst long")
    eset = {(r.src, r.dst) for r in df.collect()}
    pool = {d for _, d in eset}
    rows = negative_edges(df, k=4).collect()
    assert all((r.src, r.dst_neg) not in eset for r in rows)
    assert all(r.dst_neg in pool for r in rows)   # drawn from the TRUE pool
    from collections import Counter
    per_edge = Counter((r.src, r.dst) for r in rows)
    assert all(c <= 4 for c in per_edge.values())


def test_negative_edges_deterministic_across_partitionings(spark):
    from biosd_feature_annotator_spark.operators.training import negative_edges

    edges = [((i * 3) % 17, 200 + (i * 13) % 29) for i in range(70)]
    df = spark.createDataFrame(sorted(set(edges)), "src long, dst long")
    one = sorted(tuple(r) for r in negative_edges(df, k=2).collect())
    two = sorted(tuple(r) for r in negative_edges(
        df.repartition(23), k=2, buckets=7).collect())
    # same draws regardless of partitioning AND of the bucket count —
    # bucketing only reorganizes the pool indexing, never the index→node
    # map... (buckets change the contiguous ordering, so assert the
    # partitioning half strictly; bucket invariance is NOT expected)
    base = sorted(tuple(r) for r in negative_edges(
        df.repartition(23), k=2).collect())
    assert one == base and len(one) > 0
    assert len(two) > 0


def test_vocab_coverage_hand_case(spark):
    from biosd_feature_annotator_spark.operators.textstats import (
        vocab_coverage,
    )

    docs = spark.createDataFrame(
        [(1, "The cat SAT"), (2, "dog  dog zzz"), (3, "   ")],
        "doc_id long, text string",
    )
    vocab = spark.createDataFrame(
        [("the",), ("cat",), ("dog",)], "token string"
    )
    got = {r.doc_id: r for r in vocab_coverage(docs, vocab).collect()}
    # normalization lowercases; doc 3 has no tokens -> absent
    assert set(got) == {1, 2}
    assert (got[1].n_tokens, got[1].n_in_vocab) == (3, 2)
    assert got[1].oov_micro == 333_333
    assert (got[2].n_tokens, got[2].n_in_vocab) == (3, 2)


def test_confusion_report_hand_case(spark):
    from biosd_feature_annotator_spark.operators.training import (
        confusion_report,
    )

    df = spark.createDataFrame(
        [
            (True, 0.9), (True, 0.8), (True, 0.2),   # 2 tp, 1 fn
            (False, 0.7), (False, 0.1), (False, 0.3),  # 1 fp, 2 tn
            (None, 0.5), (True, None),               # excluded
        ],
        "label boolean, score double",
    )
    r = confusion_report(df, "label", "score", 0.5).collect()[0]
    assert (r.tp, r.fp, r.fn, r.tn, r.n_null) == (2, 1, 1, 2, 2)
    assert r.precision_micro == 666_666
    assert r.recall_micro == 666_666
    assert r.f1_micro == 666_666   # 4e6 // 6
    # degenerate: nothing predicted positive -> NULL precision
    r2 = confusion_report(df, "label", "score", 2.0).collect()[0]
    assert r2.precision_micro is None and r2.recall_micro == 0


def test_encoding_anomalies_hand_case(spark):
    from biosd_feature_annotator_spark.operators.textstats import (
        encoding_anomalies,
    )

    df = spark.createDataFrame(
        [(1, "clean text\nwith newline"),
         (2, "bad\x01\x02 bytes � here"),
         (3, "")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in encoding_anomalies(df).collect()}
    assert got[1].n_ctrl == 0 and got[1].anomaly_micro == 0
    assert (got[2].n_ctrl, got[2].n_replacement) == (2, 1)
    assert got[2].anomaly_micro == 3 * 1_000_000 // got[2].n_chars
    assert got[3].anomaly_micro is None


def test_vocab_growth_hand_case(spark):
    from biosd_feature_annotator_spark.operators.textstats import (
        vocab_growth,
    )

    df = spark.createDataFrame(
        [(0, "a b a"), (1, "b c"),            # bucket 0: types a,b,c
         (100, "c d")],                       # bucket 1: only d is new
        "doc_id long, text string",
    )
    got = sorted(map(tuple, vocab_growth(df, bucket=100).collect()))
    assert got == [
        (0, 5, 3, 3, 5),        # 5 tokens, 3 new types
        (1, 2, 1, 4, 7),        # d is new; cum 4 types / 7 tokens
    ]
