"""The r6 registration queue must be driver-ready NOW: each queued
query runs against its DuckDB oracle with the same comparison the
driver applies (row count, column set, order-insensitive value
multiset), so registering one (moving its SQL from R6_QUEUE_ORACLES
into oracle_sql()) carries zero new risk.

The registered similarity queries get the same check here: their
centroid and plane kernels are numpy UDFs, and the DuckDB twins are the
reference those kernels must match bit for bit."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

import __spark_entry__ as entrymod  # noqa: E402
from oracle_check import frame_multiset  # noqa: E402

SF = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{SF}/{t}.parquet')"
        )
    return con


@pytest.mark.parametrize(
    "name,fn",
    [(n, getattr(entrymod, f"q_{n}")) for n in entrymod.R6_QUEUE_ORACLES],
)
def test_r6_queue_query_matches_oracle(spark, duck, name, fn):
    _assert_matches_oracle(spark, duck, fn, entrymod.R6_QUEUE_ORACLES[name])


SIMILARITY_QUERIES = (
    "emb_pq_topk", "emb_ivf_topk", "emb_ann_topk", "emb_ivfpq_topk",
    "semantic_dedup_docs",
)


@pytest.mark.parametrize("name", SIMILARITY_QUERIES)
def test_similarity_query_matches_oracle(spark, duck, name):
    _assert_matches_oracle(
        spark, duck, getattr(entrymod, f"q_{name}"), entrymod.oracle_sql()[name]
    )


def _assert_matches_oracle(spark, duck, fn, sql):
    spd = fn(spark, SF).toPandas()
    opd = duck.sql(sql).df()
    assert len(spd) > 0
    assert len(spd) == len(opd)
    assert sorted(map(str.lower, spd.columns)) == sorted(map(str.lower, opd.columns))
    assert frame_multiset(spd) == frame_multiset(opd)


def test_r6_queue_not_registered_this_round():
    # the 50-slot window invariant: registering these in r5 would push
    # round-3-stale queries out of the driver's check window
    q = entrymod.queries()
    assert not set(entrymod.R6_QUEUE_ORACLES) & set(q)
    green = entrymod._driver_green_rounds()
    # rotation property, derived (not round-stamped): the head of the
    # driver's 50-slot window holds the least-recently-green entries, so
    # no non-pinned entry there may already be green in the newest round
    # that has a CORRECTNESS file.
    newest = max(green.values(), default=0)
    first50 = list(q)[:50]
    assert all(green.get(n, 0) < newest or n in entrymod._PINNED_FIRST
               for n in first50[:18])
