"""Local replica of the driver's DuckDB oracle harness: runs every
declared query next to its oracle (registered ones from oracle_sql() in
queries() order, then queued ones from R6_QUEUE_ORACLES, each row labelled
with its set) and compares row count, sorted column names and the
order-insensitive multiset of values. Usage:

    python tools/oracle_check.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "∅"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return f"f:{int(v)}"
        return f"f:{v!r}"
    if hasattr(v, "isoformat"):
        return f"t:{v.isoformat()}"
    if isinstance(v, (int,)):
        return f"i:{v}"
    return f"s:{v}"


def frame_multiset(df: pd.DataFrame):
    df = df[sorted(df.columns)]
    rows = [tuple(norm_cell(v) for v in row) for row in df.itertuples(index=False)]
    return sorted(rows)


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from biosd_feature_annotator_spark.session import get_spark

    spark = get_spark(master="local[8]", app_name="oracle-check", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{sf}/{t}.parquet')")

    oracles = entrymod.oracle_sql()
    declared = [("registered", n, oracles[n]) for n in entrymod.queries()]
    declared += [("queued", n, sql) for n, sql in entrymod.R6_QUEUE_ORACLES.items()]
    tally = {"registered": [0, 0], "queued": [0, 0]}  # [ok, mismatched]
    for kind, name, sql in declared:
        if only and name not in only:
            continue
        spd = getattr(entrymod, f"q_{name}")(spark, sf).toPandas()
        opd = con.sql(sql).df()
        problems = []
        if len(spd) != len(opd):
            problems.append(f"rowcount {len(spd)} != {len(opd)}")
        if sorted(map(str.lower, spd.columns)) != sorted(map(str.lower, opd.columns)):
            problems.append(f"columns {sorted(spd.columns)} != {sorted(opd.columns)}")
        if not problems:
            a, b = frame_multiset(spd), frame_multiset(opd)
            if a != b:
                diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
                problems.append(f"values differ, first diffs: {diffs}")
        if problems:
            print(f"MISMATCH {kind:<10} {name}: {'; '.join(problems)}")
        else:
            print(f"OK       {kind:<10} {name}: {len(spd)} rows")
        tally[kind][bool(problems)] += 1
    print()
    for kind, (n_ok, n_bad) in tally.items():
        print(f"{kind}: {n_ok} ok, {n_bad} mismatched")
    spark.stop()
    sys.exit(1 if any(n_bad for _, n_bad in tally.values()) else 0)


if __name__ == "__main__":
    main()
