"""Output checks. Each returns a list of problems; an empty list passes.

Written outputs are compared with the generator's expected sets through an
order-insensitive fingerprint computed by DuckDB on both sides: the row
count and the 128-bit sum of per-row hashes. A sum, unlike an XOR, also
tells a duplicated row from a missing one.
"""

from __future__ import annotations

import os

import duckdb

TRIPLE_KEY = ("subj, pred, obj, obj_kind, conf, confidence, unit, provenance, "
              "conv_id, turn_idx")
NODE_KEY = "node_id, node_kind, canonical_label, aliases, n_mentions"
EDGE_KEY = "src, dst, rel, weight"


def _fingerprint(con, path: str, key: str, select: str = "*") -> tuple:
    return con.sql(
        f"SELECT count(*), coalesce(sum(hash({key})::HUGEINT), 0) "
        f"FROM (SELECT {select} FROM read_parquet('{path}', "
        f"hive_partitioning = false))"
    ).fetchone()


def _compare(con, name: str, got: str, want: str, key: str, select: str = "*") -> list[str]:
    g = _fingerprint(con, got, key, select)
    w = _fingerprint(con, want, key)
    if g != w:
        return [f"{name}: {g[0]} rows written, {w[0]} expected, fingerprints differ"]
    return []


def check_campaign(out_dir: str, run_id: str, expected_dir: str,
                   n_turns: int, manifest_rows: int) -> list[str]:
    """Triples, nodes and edges of one ``run_annotate`` output against the
    expected sets, and the manifest's input-row total against the input."""
    problems = []
    if manifest_rows != n_turns:
        problems.append(f"manifest n_rows {manifest_rows} != {n_turns} input turns")
    con = duckdb.connect()
    try:
        problems += _compare(
            con, "triples",
            os.path.join(out_dir, "triples", f"run_id={run_id}", "*", "*.parquet"),
            os.path.join(expected_dir, "triples.parquet"), TRIPLE_KEY)
        problems += _compare(
            con, "nodes",
            os.path.join(out_dir, "nodes", f"run_id={run_id}", "*.parquet"),
            os.path.join(expected_dir, "nodes.parquet"), NODE_KEY,
            select="node_id, node_kind, canonical_label, "
                   "array_to_string(aliases, '|') AS aliases, n_mentions")
        problems += _compare(
            con, "edges",
            os.path.join(out_dir, "edges", f"run_id={run_id}", "*.parquet"),
            os.path.join(expected_dir, "edges.parquet"), EDGE_KEY)
    except duckdb.Error as e:  # a missing or unreadable output
        problems.append(f"output unreadable: {e}")
    finally:
        con.close()
    return problems


def check_stream(out_dir: str, expected_dir: str) -> list[str]:
    """Streamed term + value triples against the expected set without its
    structural triples (``annotate_stream`` does not emit those)."""
    con = duckdb.connect()
    try:
        return _compare(con, "streamed triples", os.path.join(out_dir, "*.parquet"),
                        os.path.join(expected_dir, "extracted.parquet"), TRIPLE_KEY)
    except duckdb.Error as e:
        return [f"output unreadable: {e}"]
    finally:
        con.close()


def check_query(name: str, got_pdf, oracle_pdf) -> list[str]:
    """A query result against its DuckDB twin: row count, column names and
    the multiset of normalized values (tools/oracle_check.frame_multiset,
    the comparison the repository's oracle tests use)."""
    from oracle_check import frame_multiset

    if len(got_pdf) != len(oracle_pdf):
        return [f"{name}: {len(got_pdf)} rows, oracle {len(oracle_pdf)}"]
    if sorted(map(str.lower, got_pdf.columns)) != sorted(map(str.lower, oracle_pdf.columns)):
        return [f"{name}: columns {sorted(got_pdf.columns)} != oracle {sorted(oracle_pdf.columns)}"]
    if frame_multiset(got_pdf) != frame_multiset(oracle_pdf):
        return [f"{name}: values differ from the oracle"]
    return []
