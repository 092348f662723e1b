"""Annotation campaign CLI — the engine's AnnotateCmd (SURVEY.md §3.1-3.3).

Usage (local or cluster; on a cluster pass --master yarn/k8s and ship the
package with spark-submit --py-files):

    python jobs/annotate.py --input /path/transcripts_parquet \
        --out /path/graph --run-id R1 [--n-parts 32] [--resume] \
        [--conv-ids a,b,c] [--sample 0.01] [--purge] \
        [--synth-turns 100000]    # generate input instead of reading it

Outputs under --out:
    triples/run_id=<R>/part_id=*/   partitioned triple table
    nodes/run_id=<R>/  edges/run_id=<R>/
    manifests/                      per-partition lineage + metrics
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from biosd_feature_annotator_spark.session import get_spark  # noqa: E402
from biosd_feature_annotator_spark.sources.lexicon import load_lexicon  # noqa: E402
from biosd_feature_annotator_spark.sources.transcripts import read_transcripts  # noqa: E402
from biosd_feature_annotator_spark.plans.materialize import (  # noqa: E402
    purge_older_than,
    purge_run,
    run_annotate,
)

DEFAULT_LEXICON = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests", "golden", "lexicon.json",
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="transcripts parquet path or Iceberg table name")
    ap.add_argument("--out", required=True)
    ap.add_argument("--run-id", default="r1")
    ap.add_argument("--lexicon", default=DEFAULT_LEXICON)
    ap.add_argument("--n-parts", type=int, default=32)
    ap.add_argument("--master", default=None)
    ap.add_argument("--conv-ids", default=None, help="comma-separated scope (S2)")
    ap.add_argument("--sample", type=float, default=None, help="sampling fraction (S3)")
    ap.add_argument("--resume", action="store_true", help="skip manifest-done parts (J4)")
    ap.add_argument("--no-graph", action="store_true", help="skip nodes/edges build")
    ap.add_argument("--purge", action="store_true", help="drop this run's outputs (S7) and exit")
    ap.add_argument("--purge-older-than", default=None, metavar="TS",
                    help="retention purge: drop every run older than this "
                         "ISO timestamp (data + manifests) and exit")
    ap.add_argument("--max-text-len", type=int, default=None,
                    help="P3 guard: drop turns whose text exceeds N chars")
    ap.add_argument("--synth-turns", type=int, default=None,
                    help="generate a deterministic synthetic input of ~N turns")
    args = ap.parse_args()

    if args.purge:
        spark = get_spark(master=args.master, app_name=f"purge-{args.run_id}")
        purge_run(args.out, args.run_id, spark=spark)
        print(json.dumps({"purged": args.run_id}))
        spark.stop()
        return
    if args.purge_older_than:
        spark = get_spark(master=args.master, app_name="purge-retention")
        purged = purge_older_than(spark, args.out, args.purge_older_than)
        print(json.dumps({"purged_runs": purged}))
        spark.stop()
        return

    spark = get_spark(master=args.master, app_name=f"annotate-{args.run_id}")
    lex = load_lexicon(args.lexicon)
    if args.synth_turns:
        from biosd_feature_annotator_spark.synth import synth_transcripts

        transcripts = synth_transcripts(spark, args.synth_turns)
    else:
        if not args.input:
            ap.error("--input or --synth-turns required")
        transcripts = read_transcripts(
            spark,
            args.input,
            conv_ids=args.conv_ids.split(",") if args.conv_ids else None,
            sample_frac=args.sample,
            max_text_len=args.max_text_len,
        )

    t0 = time.time()
    manifest = run_annotate(
        spark,
        transcripts,
        lex,
        out_dir=args.out,
        run_id=args.run_id,
        n_parts=args.n_parts,
        resume=args.resume,
        build_graph=not args.no_graph,
    )
    # this invocation's parts only: a resume of a finished run reports 0.
    # The rows are a local frame already on the driver: sum them here.
    parts = manifest.select("n_rows", "n_triples").collect()
    n_turns = sum(r.n_rows for r in parts)
    n_triples = sum(r.n_triples for r in parts)
    wall = time.time() - t0
    print(
        json.dumps(
            {
                "run_id": args.run_id,
                "n_turns": n_turns,
                "n_triples": n_triples,
                "wall_sec": round(wall, 2),
                "turns_per_sec": round(n_turns / wall, 1),
                "triples_per_sec": round(n_triples / wall, 1),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
