"""Time a resume with the graph after a crash at half the parts, in two
checkouts, alternating which goes first.

Each run is one Python process on one checkout's package, with a
``local[SPARK_GRAFT_CPUS]`` session. It writes ``synth_transcripts(spark,
--turns)`` to Parquet once and reads it back with ``read_transcripts``.
Then it runs a one-shot campaign as the reference and warm-up. Each of
``--reps`` repetitions then simulates the crash: a fresh run over the
input filtered to parts ``0..n_parts/2-1``, left untimed. It times
``run_annotate(..., resume=True, build_graph=True)`` over the whole
input. It also checks that the resumed run's nodes, edges and triples
equal the reference's. Each repetition is one JSON line in ``--out``.
``--summary`` prints each side's times.

    SPARK_GRAFT_CPUS=4 python3 BENCH/one_plan_resume/resume_time.py \\
        --parent ../parent --change . --procs 6 --reps 3 \\
        --out BENCH/one_plan_resume/resume_time.jsonl
    python3 BENCH/one_plan_resume/resume_time.py --summary BENCH/one_plan_resume/resume_time.jsonl
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

N_PARTS = 32  # run_annotate's default


def child(checkout: str, turns: int, reps: int) -> None:
    # the driver and the Python workers import this checkout's package
    sys.path.insert(0, checkout)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (checkout, os.environ.get("PYTHONPATH")) if p)
    from pyspark.sql import functions as F

    from biosd_feature_annotator_spark.plans.materialize import run_annotate, with_part_id
    from biosd_feature_annotator_spark.session import get_spark
    from biosd_feature_annotator_spark.sources.lexicon import load_lexicon
    from biosd_feature_annotator_spark.sources.transcripts import read_transcripts
    from biosd_feature_annotator_spark.synth import synth_transcripts

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    lex = load_lexicon(os.path.join(checkout, "tests", "golden", "lexicon.json"))

    def content(out: str) -> dict:
        """Order-insensitive (rows, bit_xor of row hashes) per table."""
        res = {}
        for name in ("triples", "nodes", "edges"):
            df = spark.read.parquet(os.path.join(out, name, "run_id=r"))
            cols = sorted(c for c in df.columns if c != "part_id")
            h = F.xxhash64(*[F.coalesce(F.col(c).cast("string"), F.lit("\0")) for c in cols])
            row = df.select(h.alias("h")).agg(F.count("*"), F.expr("bit_xor(h)")).collect()[0]
            res[name] = [row[0], row[1]]
        return res

    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "turns.parquet")
        synth_transcripts(spark, turns).write.parquet(path)
        full = read_transcripts(spark, path)
        half = with_part_id(full, N_PARTS).where(f"part_id < {N_PARTS // 2}").drop("part_id")
        run_annotate(spark, full, lex, os.path.join(tmp, "ref"), "r", N_PARTS)
        want = content(os.path.join(tmp, "ref"))
        for rep in range(reps):
            out = os.path.join(tmp, f"crash{rep}")
            run_annotate(spark, half, lex, out, "r", N_PARTS)
            t = time.perf_counter()
            manifest = run_annotate(spark, full, lex, out, "r", N_PARTS, resume=True)
            resume_s = time.perf_counter() - t
            print(json.dumps({
                "rep": rep, "resume_s": resume_s, "n_turns": turns,
                "resumed_parts": len(manifest.collect()),
                "equal_to_one_shot": content(out) == want,
            }), flush=True)
    spark.stop()


def summary(path: str) -> None:
    rows = [json.loads(line) for line in open(path)]
    for arm in ("parent", "change"):
        xs = [r["resume_s"] for r in rows if r["arm"] == arm]
        q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
        ok = all(r["equal_to_one_shot"] for r in rows if r["arm"] == arm)
        print(f"{arm:7s} {len(xs):3d} resumes  min {min(xs):.2f}  Q1 {q1:.2f}  median {q2:.2f}"
              f"  Q3 {q3:.2f}  max {max(xs):.2f} s  every resume equals the one-shot run: {ok}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent")
    ap.add_argument("--change")
    ap.add_argument("--procs", type=int, default=6, help="processes per checkout")
    ap.add_argument("--reps", type=int, default=3, help="resumes per process")
    ap.add_argument("--turns", type=int, default=30_000)
    ap.add_argument("--out")
    ap.add_argument("--summary")
    ap.add_argument("--child")
    args = ap.parse_args()
    if args.summary:
        summary(args.summary)
        return
    if args.child:
        child(args.child, args.turns, args.reps)
        return
    arms = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    with open(args.out, "a") as out:
        for i in range(args.procs):
            for arm in (("parent", "change") if i % 2 == 0 else ("change", "parent")):
                p = subprocess.run(
                    [sys.executable, os.path.abspath(__file__), "--child", arms[arm],
                     "--turns", str(args.turns), "--reps", str(args.reps)],
                    capture_output=True, text=True, check=True)
                for line in p.stdout.splitlines():
                    out.write(json.dumps({"proc": i + 1, "arm": arm, **json.loads(line)}) + "\n")
                out.flush()


if __name__ == "__main__":
    main()
