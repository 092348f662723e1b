"""Interleaved perfbench A/B of two checkouts, with the bytes of each output
table.

Runs ``perfbench/run.py --trace 0`` once per checkout per seed, alternating
which checkout goes first (parent first on even pair indices). After each
run it sums the data files (``*.parquet``) of the last campaign's triples,
manifests, nodes and edges under that checkout's ``.bench_work/`` and reads
the codecs their column chunks use. Each run is one JSON line in ``--out``;
``--summary`` prints, per workload and metric, each side's quartiles, the
median change and the pairs the change reads better.

    python3 BENCH/zstd_sink/ab.py --parent ../parent --change . \\
        --workload campaign_entities --seeds 1001-1010 --out BENCH/zstd_sink/ab.jsonl
    python3 BENCH/zstd_sink/ab.py --summary BENCH/zstd_sink/ab.jsonl
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import subprocess
import sys

TABLES = ("triples", "manifests", "nodes", "edges")
BETTER = {"setup_s": "lower", "campaign_s_p50": "lower", "turns_per_s": "higher",
          "triples_per_s": "higher", "cpu_s_per_kturn": "lower",
          "peak_rss_mb": "lower", "out_bytes_per_turn": "lower"}


def table_bytes(out_dir: str) -> dict:
    """Bytes and column-chunk codecs of each table's data files."""
    import pyarrow.parquet as pq

    tables = {}
    for t in TABLES:
        files = glob.glob(os.path.join(out_dir, t, "**", "*.parquet"), recursive=True)
        codecs = set()
        for f in files:
            md = pq.ParquetFile(f).metadata
            codecs.update(md.row_group(g).column(c).compression
                          for g in range(md.num_row_groups) for c in range(md.num_columns))
        tables[t] = {"files": len(files), "bytes": sum(os.path.getsize(f) for f in files),
                     "codecs": sorted(codecs)}
    return tables


def run_one(checkout: str, workload: str, seed: int, seconds: float) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if p.returncode == 0 and lines else {"error": p.stderr[-2000:]}
    result["tables"] = table_bytes(os.path.join(checkout, ".bench_work", workload, "out"))
    return result


def seeds_of(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summary(path: str) -> None:
    rows = [json.loads(line) for line in open(path)]
    for workload in dict.fromkeys(r["workload"] for r in rows):
        runs = {(r["seed"], r["arm"]): r["result"] for r in rows if r["workload"] == workload}
        seeds = sorted({s for s, _ in runs if (s, "parent") in runs and (s, "change") in runs})
        ok = all(runs[s, a].get("correct") and runs[s, a].get("failed") == 0
                 for s in seeds for a in ("parent", "change"))
        print(f"## {workload}: {len(seeds)} pairs, every run correct with 0 failed: {ok}")
        print(f"{'metric':20s} {'parent Q1/med/Q3':>28s} {'change Q1/med/Q3':>28s}"
              f" {'med chg':>8s} {'wins':>6s} {'IQR_p':>9s}")
        for m, better in BETTER.items():
            p = [runs[s, "parent"]["metrics"][m]["value"] for s in seeds]
            c = [runs[s, "change"]["metrics"][m]["value"] for s in seeds]
            wins = sum((cv < pv) if better == "lower" else (cv > pv) for pv, cv in zip(p, c))
            pq_, cq = quartiles(p), quartiles(c)
            print(f"{m:20s} {'/'.join(f'{v:.4g}' for v in pq_):>28s}"
                  f" {'/'.join(f'{v:.4g}' for v in cq):>28s}"
                  f" {100 * (cq[1] - pq_[1]) / pq_[1]:+7.1f}% {wins:3d}/{len(seeds):<2d}"
                  f" {pq_[2] - pq_[0]:9.4g}")
        for t in TABLES:
            pb = statistics.median(runs[s, "parent"]["tables"][t]["bytes"] for s in seeds)
            cb = statistics.median(runs[s, "change"]["tables"][t]["bytes"] for s in seeds)
            codecs = {arm: sorted({c for s in seeds for c in runs[s, arm]["tables"][t]["codecs"]})
                      for arm in ("parent", "change")}
            print(f"  {t:10s} median bytes {pb:>10,.0f} -> {cb:>10,.0f}"
                  f" ({100 * (cb - pb) / pb:+.1f}%)  codecs {codecs['parent']} -> {codecs['change']}")
        print()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent")
    ap.add_argument("--change")
    ap.add_argument("--workload", action="append")
    ap.add_argument("--seeds", default="1001-1010")
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--out")
    ap.add_argument("--summary")
    args = ap.parse_args()
    if args.summary:
        summary(args.summary)
        return
    arms = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    with open(args.out, "a") as out:
        for i, seed in enumerate(seeds_of(args.seeds)):
            for workload in args.workload:
                order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
                for arm in order:
                    res = run_one(arms[arm], workload, seed, args.seconds)
                    out.write(json.dumps({"pair": i + 1, "seed": seed, "workload": workload,
                                          "arm": arm, "result": res}) + "\n")
                    out.flush()


if __name__ == "__main__":
    main()
