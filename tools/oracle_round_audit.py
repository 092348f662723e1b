"""Measured tie-margin audit for every rounded double in the oracle pairs
(VERDICT r2 float-risk item).

Risk model: Spark and DuckDB compute the same double within ~1 ulp; a
`round(x, d)` in a hash-compared output column can only diverge across
engines when x*10^d lands within ~1e-12 of a .5 boundary (each engine's
half-up tie-break then sees a different side). This tool PROVES the margin
empirically: it strips every `round(expr, d)` wrapper from the oracle SQL
(paren-matched, so nesting is safe), re-runs the de-rounded query on the
same parquet tables, and reports, per (query, column), the minimum
distance of |x|*10^d to the nearest .5 boundary across all rows.

The flag criterion is ULP-RELATIVE, not absolute: for a continuous-valued
column the minimum margin over N rows concentrates at ~1/(2N) regardless
of the rounding scale (the fractional part is uniform), so an absolute
threshold would mis-flag any large result. A cross-engine flip instead
requires the margin to be within the two engines' disagreement — O(1 ulp)
of the value, scaled by 10^d. We report margin / (ulp(value)·10^d) and
flag anything below 1000 ulps of safety. Usage:

    python tools/oracle_round_audit.py [sf_dir ...]
"""

from __future__ import annotations

import math
import os
import re
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
ULP_FLAG = 1e3

_AS_RE = re.compile(r"\s+AS\s+(\w+)", re.IGNORECASE)


def _match_paren(s: str, open_idx: int) -> int:
    """Index of the ')' matching the '(' at open_idx (no string literals
    with parens exist in the oracle SQL)."""
    depth = 0
    for i in range(open_idx, len(s)):
        if s[i] == "(":
            depth += 1
        elif s[i] == ")":
            depth -= 1
            if depth == 0:
                return i
    raise ValueError("unbalanced parens")


def _split_last_arg(inner: str) -> tuple[str, str] | None:
    """Split 'expr, d' at the LAST top-level comma. Returns None for
    single-argument round(x): those are COMPUTATIONAL quantizers (the
    micro-quantized long-sum kernels — emb_centroids, doc_fluency,
    mix_sources), not display rounds. Both engines feed them the
    bit-identical double (literal-folded products of exact casts), so
    there is no cross-engine input disagreement for a tie boundary to
    amplify — and stripping them would CHANGE the query (their output
    feeds downstream arithmetic), so they must stay in place."""
    depth = 0
    for i in range(len(inner) - 1, -1, -1):
        c = inner[i]
        if c == ")":
            depth += 1
        elif c == "(":
            depth -= 1
        elif c == "," and depth == 0:
            return inner[:i], inner[i + 1:]
    return None


_CAST_ROUND_RE = re.compile(r"\bCAST\s*\(\s*round\s*\(", re.IGNORECASE)
_CAST_TAIL_RE = re.compile(r"\s*AS\s+BIGINT\s*\)", re.IGNORECASE)


def _decast_rounds(sql: str) -> tuple[str, list[str]]:
    """Strip the micro-quantizer idiom `CAST(round(X) AS BIGINT) AS col`
    → `(X) AS col`, returning the aliased output columns. These are the
    integer-grid outputs (digits=0 on the pre-scaled value) the plain
    round(x, d) pass cannot audit: the outer CAST would truncate the
    de-rounded value and erase the fraction the margin measures."""
    audited: list[str] = []
    pos = 0
    while True:
        m = _CAST_ROUND_RE.search(sql, pos)
        if m is None:
            return sql, audited
        round_open = sql.index("(", sql.index("round", m.start()))
        round_close = _match_paren(sql, round_open)
        if _split_last_arg(sql[round_open + 1:round_close]) is not None:
            pos = round_open + 1  # two-arg round: main pass handles it
            continue
        tail = _CAST_TAIL_RE.match(sql[round_close + 1:])
        if tail is None:
            pos = round_open + 1  # not the BIGINT idiom
            continue
        cast_close = round_close + 1 + tail.end() - 1
        alias_m = _AS_RE.match(sql[cast_close + 1:])
        if alias_m:
            audited.append(alias_m.group(1).lower())
        sql = (
            sql[:m.start()]
            + "(" + sql[round_open + 1:round_close] + ")"
            + sql[cast_close + 1:]
        )


def deround(sql: str) -> tuple[str, list[tuple[str, int]]]:
    """Strip every round(expr, d) wrapper; return (sql, [(alias, d), ...])
    for the ones directly aliased with `AS name` (the output columns).
    The CAST(round(X) AS BIGINT) micro-quantizer idiom is handled first
    (audited at digits=0 on the pre-scaled value)."""
    sql, micro_cols = _decast_rounds(sql)
    audited: list[tuple[str, int]] = [(c, 0) for c in micro_cols]
    pat = re.compile(r"\bround\s*\(", re.IGNORECASE)
    pos = 0
    while True:
        m = pat.search(sql, pos)
        if m is None:
            return sql, audited
        open_idx = sql.index("(", m.start())
        close_idx = _match_paren(sql, open_idx)
        inner = sql[open_idx + 1:close_idx]
        split = _split_last_arg(inner)
        if split is None:  # bare quantizer round(x): keep, scan past it
            pos = open_idx + 1
            continue
        expr, digits = split
        alias_m = _AS_RE.match(sql[close_idx + 1:])
        if alias_m:
            audited.append((alias_m.group(1).lower(), int(digits.strip())))
        sql = sql[:m.start()] + "(" + expr + ")" + sql[close_idx + 1:]


def margin_of(values, digits: int) -> tuple[float, float] | None:
    """(min margin, min ulp-safety) across rows: margin = distance of
    |v|*10^d to the nearest .5 tie boundary; ulp-safety = that distance in
    units of ulp(v)*10^d (how many representable doubles of engine
    disagreement would be needed to flip the rounded output)."""
    best = best_ulps = None
    scale = 10 ** digits
    for v in values:
        if v is None or (isinstance(v, float) and math.isnan(v)):
            continue
        fv = float(v)
        f = abs(fv) * scale
        d = abs(f - math.floor(f) - 0.5)
        ulp = math.ulp(fv) * scale if fv != 0.0 else math.ulp(0.5)
        u = d / ulp
        if best is None or d < best:
            best = d
        if best_ulps is None or u < best_ulps:
            best_ulps = u
    return None if best is None else (best, best_ulps)


def is_inner(digits: int, margin, output: bool) -> bool:
    """A CTE-internal micro-quantizer: a digits=0 alias with no measurement
    that is not an output column of the original oracle query, so there is
    nothing to measure — its risk surfaces in whichever output column
    consumes it. A missing output column is never inner."""
    return margin is None and digits == 0 and not output


def audit(sf: str) -> list[tuple[str, str, int, float | None, int, bool]]:
    """(query, alias, digits, margin, rows, output) per audited alias;
    ``output`` says whether the alias is an output column of the original
    oracle query (its columns, read from a LIMIT 0 run)."""
    import __spark_entry__ as entrymod

    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{sf}/{t}.parquet')"
        )
    rows = []
    oracles = dict(entrymod.oracle_sql())
    oracles.update({f"queue:{k}": v for k, v in entrymod.R6_QUEUE_ORACLES.items()})
    for name, sql in oracles.items():
        stripped, audited = deround(sql)
        if not audited:
            continue
        outputs = {c.lower() for c in con.sql(sql).limit(0).columns}
        df = con.sql(stripped).df()
        cols = {c.lower(): c for c in df.columns}
        for alias, digits in audited:
            col = cols.get(alias)
            vals = [] if col is None else df[col].tolist()
            rows.append((name, alias, digits, margin_of(vals, digits), len(vals),
                         alias in outputs))
    return rows


def main() -> None:
    sfs = sys.argv[1:] or ["/root/testdata/sf0.01"]
    flagged = 0
    for sf in sfs:
        print(f"== {sf}")
        skipped_inner = 0
        for name, alias, digits, m, n, output in audit(sf):
            tag = ""
            if is_inner(digits, m, output):
                skipped_inner += 1
                continue
            if m is None:
                tag = "  [no rows / column missing]"
                mtxt = utxt = "-"
            else:
                margin, ulps = m
                mtxt, utxt = f"{margin:.3e}", f"{ulps:.1e}"
                if ulps < ULP_FLAG:
                    tag = "  [FLAG: < 1000 ulps of safety]"
                    flagged += 1
            print(f"  {name:24s} {alias:18s} d={digits}  rows={n:6d}  "
                  f"margin={mtxt}  ulp_safety={utxt}{tag}")
        if skipped_inner:
            print(f"  ({skipped_inner} CTE-internal micro-quantizers not "
                  f"output columns; risk carried by their consumers)")
    sys.exit(1 if flagged else 0)


if __name__ == "__main__":
    main()
