from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from biosd_feature_annotator_spark.session import get_spark  # noqa: E402
from biosd_feature_annotator_spark.sources.lexicon import load_lexicon  # noqa: E402
from biosd_feature_annotator_spark.sources.transcripts import TRANSCRIPT_SCHEMA  # noqa: E402

GOLDEN_DIR = os.path.join(os.path.dirname(__file__), "golden")


def write_transcripts(df, path: str, n_buckets: int = 16) -> None:
    """Write transcripts hash-bucketed by conv_id — the parquet emulation
    of an Iceberg ``bucket(N, conv_id)`` layout, whole conversations
    co-located. read_transcripts drops the ``conv_bucket`` column."""
    (
        df.withColumn("conv_bucket", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)))
        .repartition("conv_bucket")
        .write.partitionBy("conv_bucket")
        .mode("overwrite")
        .parquet(path)
    )


def read_transcript_stream(spark, path: str):
    """A file-source stream over a transcript parquet directory, at most
    8 files per micro-batch."""
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(path)
    )


def synth_clustered_embeddings(spark, n: int, dim: int = 64, k_centers: int = 8,
                               sigma: float = 0.5):
    """Deterministic mixture-of-Gaussians embeddings: k_centers
    well-separated centers (similarity's md5-derived points) plus
    isotropic noise with per-coordinate std ``sigma``. Pure Catalyst and
    RNG-state-free — noise is an Irwin-Hall(3) sum of xxhash64-derived
    uniforms on [-1,1), so every (id, dim) coordinate is reproducible
    across sessions and parallelism levels. Exact top-k is same-cluster
    by construction.

    Returns (vec_id long, cluster int, embedding array<float>)."""
    from biosd_feature_annotator_spark.operators.similarity import _planes

    # each center ships as one CSV literal that Catalyst folds into a
    # double array: one py4j call per center instead of one per element
    centers = F.array(*[
        F.split(F.lit(",".join(repr(x) for x in c)), ",").cast("array<double>")
        for c in _planes(k_centers, dim, 23)
    ])
    cluster = F.pmod(F.col("id"), F.lit(k_centers)).cast("int")

    def _u(d, salt: int):
        # xxhash64 → uniform on [-1, 1); three salts summed → ~N(0,1)
        return F.xxhash64(
            F.concat_ws(":", F.col("id").cast("string"), d.cast("string"),
                        F.lit(f"s{salt}"))
        ) / F.lit(float(2**63))

    noise = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda d: _u(d, 1) + _u(d, 2) + _u(d, 3),
    )
    emb = F.zip_with(
        F.element_at(centers, cluster + 1), noise,
        lambda c, nz: (c + nz * F.lit(sigma)).cast("float"),
    )
    return spark.range(n).select(
        F.col("id").cast("long").alias("vec_id"),
        cluster.alias("cluster"),
        emb.alias("embedding"),
    )


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        master="local[4]",
        app_name="kg-tests",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def lexicon():
    return load_lexicon(os.path.join(GOLDEN_DIR, "lexicon.json"))


@pytest.fixture(scope="session")
def synonym_lexicon():
    """A functional, synonym-heavy dictionary whose surfaces collide
    across terms in every way Lexicon resolves: a synonym claimed by two
    terms (first wins), a label displacing an earlier synonym (single-
    and multi-token), a synonym equal to another term's label (the label
    wins), plus a unit and a context term. One hot term (T_HS) owns a
    label, four synonyms and a tokens match."""
    from biosd_feature_annotator_spark.sources.lexicon import Lexicon

    return Lexicon(terms=[
        {"term_id": "T_HS", "label": "Homo sapiens",
         "synonyms": ["human", "h. sapiens", "man", "homo sapiens", "person"],
         "pred": "hasOrganism"},
        {"term_id": "T_MM", "label": "Mus musculus",
         "synonyms": ["mouse", "house mouse", "human"], "pred": "hasOrganism"},
        {"term_id": "T_HM", "label": "House  Mouse",
         "synonyms": ["Homo Sapiens", "field mouse"], "pred": "hasOrganism"},
        {"term_id": "T_PR", "label": "Person", "synonyms": [], "pred": "hasRole"},
        {"term_id": "T_KG", "label": "kilogram", "synonyms": ["kg"], "pred": "(unit)"},
        {"term_id": "T_AGE", "label": "age", "synonyms": ["aged"], "pred": "(context)"},
    ])


@pytest.fixture
def crash_on_commit(monkeypatch):
    """Arm a one-shot crash of a directory swap's commit: the next rename
    onto a live path (any rename whose target is not a ``.bak`` backup)
    raises, after the live directory has already been moved aside."""
    real_rename = os.rename
    armed = [True]

    def rename(src, dst):
        if armed[0] and not str(dst).endswith(".bak"):
            armed[0] = False
            raise OSError(f"injected crash renaming {src} -> {dst}")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", rename)
