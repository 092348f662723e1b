"""Guards on the driver contract (__spark_entry__): key alignment, column
naming discipline, and flagship schema stability — cheap failures here are
expensive CORRECTNESS_r{N}.json failures later."""

from __future__ import annotations

import ast
import glob
import os
import re

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"


def test_every_query_has_an_oracle():
    q, o = entrymod.queries(), entrymod.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 48
    # round 2: the formerly rows-only ops were re-keyed on engine-portable
    # hashes / literal planes / committed corpora — EVERY query must now
    # ship a DuckDB oracle (no rows-only column in CORRECTNESS_r{N})
    rows_only = set(q) - set(o)
    assert rows_only == set(), f"queries without oracle: {rows_only}"


def test_oracle_sql_references_only_registered_views():
    registered = set(
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    )
    for name, sql in entrymod.oracle_sql().items():
        ctes = set(re.findall(r"(\w+)\s+AS\s*\(", sql))
        tables = set(re.findall(r"(?:FROM|JOIN)\s+([a-z_][a-z0-9_]*)", sql))
        # read_parquet: the committed corpus fixture (transcripts_kg family)
        unknown = tables - registered - ctes - {"generate_series", "read_parquet"}
        assert not unknown, f"{name} references unregistered {unknown}"


def test_queries_run_and_columns_match_oracle_aliases(spark):
    """Column names must match between Spark and SQL (the driver sorts
    columns by name before hashing). Checked structurally for every
    oracle-backed query at sf0.001 without executing DuckDB."""
    oracles = entrymod.oracle_sql()
    for name, fn in entrymod.queries().items():
        if name not in oracles:
            continue
        df = fn(spark, SF)
        # every Spark output column name must appear verbatim in the SQL
        # (as a source column or an AS alias) — catches the classic
        # sum_qty vs sum(l_quantity) hash-mismatch before the driver does
        sql_l = oracles[name].lower()
        missing = [c for c in df.columns if c.lower() not in sql_l]
        assert not missing, f"{name}: Spark columns {missing} absent from oracle SQL"


def test_entry_schema_stable(spark):
    df = entrymod.entry(spark)
    assert [f.name for f in df.schema.fields] == [
        "subj", "pred", "obj", "obj_kind", "conf", "confidence",
        "unit", "provenance", "conv_id", "turn_idx",
    ]
    assert df.limit(1).count() == 1


def test_epoch_queries_are_timezone_invariant(spark):
    """The r2 in-query spark.conf.set(timeZone) mutations are gone; the
    epoch-keyed queries must now produce identical results under ANY
    session timezone (pure NTZ wall-clock arithmetic)."""
    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    qs = entrymod.queries()
    tz0 = spark.conf.get("spark.sql.session.timeZone")
    try:
        results = {}
        for tz in ("UTC", "America/New_York"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            for name in ("range_frame_sum", "sessionize_events"):
                rows = sorted(map(tuple, qs[name](spark, sf).collect()))
                results.setdefault(name, []).append(rows)
        for name, (a, b) in results.items():
            assert a == b, f"{name} differs across session timezones"
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz0)


def test_epoch_floor_semantics_match_duckdb_pre_epoch(spark):
    """r3 ADVICE: _epoch_ntz must use TRUE floor, not truncation toward
    zero — they differ by 1 s for pre-epoch timestamps with fractional
    seconds. Compare against DuckDB's CAST(floor(epoch(ts)) AS BIGINT)
    on both sides of the epoch, under a non-UTC session timezone."""
    import duckdb
    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod

    vals = [
        "1969-12-31 23:59:59.5",
        "1969-12-31 23:59:59.000001",
        "1969-06-01 12:00:00.25",
        "1969-12-31 23:59:59",
        "1970-01-01 00:00:00",
        "2024-03-05 10:11:12.999",
    ]
    tz0 = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        df = (
            spark.createDataFrame([(v,) for v in vals], "s string")
            .select("s", F.col("s").cast("timestamp_ntz").alias("ts"))
            .select("s", entrymod._epoch_ntz("ts").alias("e"))
        )
        got = {r.s: r.e for r in df.collect()}
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz0)
    for v in vals:
        want = duckdb.sql(
            f"SELECT CAST(floor(epoch(TIMESTAMP '{v}')) AS BIGINT)"
        ).fetchone()[0]
        assert got[v] == want, (v, got[v], want)


def test_no_query_mutates_session_conf():
    """Queries must read, never write, ambient session conf (VERDICT r2):
    grep the entry file for in-query conf.set calls outside streaming
    helpers (which own their job-level conf)."""
    import inspect

    import __spark_entry__ as entrymod

    src = inspect.getsource(entrymod)
    assert "spark.conf.set" not in src


def test_query_rotation_covers_stale_entries_first():
    """The driver checks only the first 50 queries() entries (r3 finding:
    CORRECTNESS_r03 key order == queries() order truncated at 50). The
    rotation must therefore (a) pin the flagships first, (b) place every
    query that has never had a driver-green row inside the window, and
    (c) order the remainder least-recently-green so evidence ages back
    in automatically."""
    import __spark_entry__ as entrymod

    order = list(entrymod.queries())
    assert order[: len(entrymod._PINNED_FIRST)] == entrymod._PINNED_FIRST
    green = entrymod._driver_green_rounds()
    window = set(order[:50])
    never_green = [n for n in order if n not in green]
    missing = [n for n in never_green if n not in window]
    assert not missing, f"never-driver-green queries outside the window: {missing}"
    rest = [n for n in order if n not in entrymod._PINNED_FIRST]
    rounds = [green.get(n, 0) for n in rest]
    assert rounds == sorted(rounds)  # least-recently-green ordering


def test_each_query_is_declared_once():
    """The oracle tables are the only query declaration: every q_<name>
    builder is registered (key of oracle_sql()) or queued (key of
    R6_QUEUE_ORACLES), never both, and every key has its builder."""
    registered = set(entrymod.oracle_sql())
    queued = set(entrymod.R6_QUEUE_ORACLES)
    builders = {n[2:] for n in dir(entrymod) if n.startswith("q_")}
    assert builders == registered | queued
    assert not registered & queued
    assert all(callable(getattr(entrymod, f"q_{n}", None))
               for n in registered | queued)


REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "biosd_feature_annotator_spark")


def _product_sources():
    """The top-level modules (entry, bench), the package, jobs/, tools/
    and perfbench/ — every .py file there outside a tests/ directory."""
    paths = glob.glob(os.path.join(REPO, "*.py"))
    for top in ("biosd_feature_annotator_spark", "jobs", "tools", "perfbench"):
        for dirpath, dirnames, filenames in os.walk(os.path.join(REPO, top)):
            dirnames[:] = [d for d in dirnames if d != "tests"]
            paths += [os.path.join(dirpath, f) for f in filenames if f.endswith(".py")]
    return paths


def _used_names(node):
    """Identifiers a subtree uses, including those of a string constant
    that is a whole Python script (tools run worker programs that way)."""
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield n.name
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and "import " in n.value:
            try:
                yield from _used_names(ast.parse(n.value))
            except SyntaxError:
                pass


def test_every_public_package_definition_has_a_non_test_caller():
    """No code without a caller: every top-level function or class of the
    package, public or private, is used by non-test code. A use inside
    another package definition counts only if that definition is used in
    turn, so a chain whose only entry point is a test fails whole, and so
    does a private helper left behind by a deleted caller. A re-export
    from a package ``__init__`` is not a use: it would keep alive
    whatever it names."""
    inner, used = {}, set()
    for path in _product_sources():
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), path)
        in_pkg = path.startswith(PKG + os.sep)
        for stmt in tree.body:
            if in_pkg and path.endswith("__init__.py") and isinstance(
                stmt, ast.ImportFrom
            ):
                continue
            if in_pkg and isinstance(
                stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                inner.setdefault(stmt.name, set()).update(_used_names(stmt))
            else:
                used.update(_used_names(stmt))
    todo = list(used & inner.keys())
    while todo:
        for name in inner[todo.pop()] - used:
            used.add(name)
            if name in inner:
                todo.append(name)
    orphans = inner.keys() - used
    assert not orphans, f"package definitions only tests call: {sorted(orphans)}"


# list(queries()) under the committed CORRECTNESS_r01-r06 files:
# reordering oracle_sql() must not move it. A new CORRECTNESS_r*.json
# file re-rotates queries(); retake the snapshot then.
QUERIES_ORDER = [
    "transcripts_kg", "transcripts_kg_stream", "entity_stats_kg",
    "stream_sessionize", "stream_dedup_keys", "pricing_summary",
    "star_join_revenue", "brand_quantity", "semi_join_segments",
    "anti_join_segments", "theta_band_join", "asof_last_signup",
    "rank_customers", "moving_avg", "range_frame_sum", "cube_orders",
    "rollup_order_months", "grouping_sets", "distinct_counts", "except_all",
    "intersect_customers", "union_entities", "string_funcs", "kg_run_diff",
    "kg_triangles", "tfidf_top_terms", "bm25_docs", "unpivot_lineitem",
    "window_percentiles", "shared_ngram_spans", "sample_stratified",
    "histogram_acctbal", "window_first_last", "full_outer_balance",
    "doc_token_positions", "bloom_semi_join", "stream_join_purchases",
    "doc_fluency", "curate_docs", "agg_state_merge", "emb_centroids",
    "edit_distances", "user_gap_stats", "rank_with_nulls", "stream_user_stats",
    "docs_simhash", "approx_distinct", "phonetic_strings", "winnow_docs",
    "multimodal_features", "date_funcs", "math_funcs", "json_props",
    "json_funcs", "stats_agg", "value_percentiles", "stream_window_counts",
    "pivot_event_counts", "top_orders", "salted_agg", "doc_token_stats",
    "doc_quality", "doc_langid", "doc_fingerprints", "dedup_exact_docs",
    "ngram_jaccard_docs", "doc_extract_numbers", "emb_norms",
    "emb_cosine_pairs", "emb_near_dup", "doc_bpe_tokens", "doc_train_split",
    "doc_pack_sequences", "vocab_top_tokens", "kg_khop", "kg_pagerank",
    "doc_scrub_pii", "doc_repetition", "bpe_tokenize_docs",
    "media_decode_stats", "decontaminate_docs", "mix_sources",
    "semantic_dedup_docs", "emb_filtered_topk", "doc_quality_linear",
    "emb_ivfpq_topk", "funnel_signup_purchase", "scd2_user_value",
    "sessionize_events", "top_sources", "emb_ann_topk", "emb_ivf_topk",
    "emb_pq_topk", "docs_minhash_pairs", "docs_dedup_clusters",
]


def test_queries_order_matches_snapshot():
    assert list(entrymod.queries()) == QUERIES_ORDER
