"""Z-order key tests: the Morton key is the reference bit interleave and
keeps the quad-tree locality order range partitioning relies on."""

from __future__ import annotations

from pyspark.sql import functions as F

from biosd_feature_annotator_spark.plans.zorder import zvalue


def _interleave_ref(x: int, y: int, bits: int = 16) -> int:
    z = 0
    for i in range(bits):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


def test_zvalue_matches_reference_bit_interleave(spark):
    df = spark.createDataFrame(
        [(x, y) for x in (0, 1, 5, 255, 65535) for y in (0, 2, 7, 1024, 65535)],
        "x long, y long",
    )
    rows = df.select("x", "y", zvalue(F.col("x"), F.col("y")).alias("z")).collect()
    for r in rows:
        assert r.z == _interleave_ref(r.x, r.y), (r.x, r.y)


def test_zvalue_preserves_locality_order(spark):
    # Morton keys of a 2x2 quad must sort before any key of the next
    # quad level — the property range partitioning relies on
    assert _interleave_ref(1, 1) < _interleave_ref(0, 2)
    assert _interleave_ref(3, 3) < _interleave_ref(4, 0)

