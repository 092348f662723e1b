"""Repository benchmark: annotation campaigns timed end to end, and a
traced run that splits the same work into the engine's layers.

    python3 perfbench/run.py --workload campaign_text --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). The lines before it print the same numbers as a table,
with units and sample counts. Everything the run writes goes under
``.bench_work/`` in the repository root.

Each run generates its input from ``--seed`` (perfbench/gen.py), starts
one Spark session on ``local[<cores available>]``, builds the 5k-term
benchmark lexicon and runs two untimed campaigns, a cold one and one
while the JIT settles (together the set-up), then runs
``run_annotate(..., build_graph=True)`` over the workload's input
repeatedly until ``--seconds`` have passed (at least once). Every
campaign's triples, nodes, edges and manifest are checked against the generator's expected
sets outside the timed window; a mismatch or an exception counts as a
failed operation.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE), os.path.join(os.path.dirname(HERE), "tools")]

from harness import (  # noqa: E402
    ROOT, WORKLOADS, Tally, measure, prepare_input, setup, stop_spark, write_record,
)


def end_to_end(ops: list[dict], setup_s: float) -> dict:
    walls = [o["wall_s"] for o in ops]
    total_wall = sum(walls)
    turns = sum(o["turns"] for o in ops)
    return {
        "setup_s": (setup_s, "s"),
        "campaign_s_p50": (statistics.median(walls), "s"),
        "turns_per_s": (turns / total_wall, "1/s"),
        "triples_per_s": (sum(o["triples"] for o in ops) / total_wall, "1/s"),
        "cpu_s_per_kturn": (1000 * sum(o["cpu_s"] for o in ops) / turns, "s"),
        "peak_rss_mb": (statistics.median(o["peak_rss"] for o in ops) / 2**20, "MB"),
        "out_bytes_per_turn": (statistics.median(o["out_bytes"] / o["turns"] for o in ops), "B"),
    }


def emit(metrics: dict, samples: dict, tally: Tally) -> None:
    """Print the table (``samples``: sample count per metric, 1 when
    absent), then the one-line JSON result."""
    failed_frac = tally.failed / tally.attempted if tally.attempted else 1.0
    for name, (value, unit) in metrics.items():
        print(f"{name:36s} {value:16.6f} {unit:6s} n={samples.get(name, 1)}")
    print(f"{'failed_frac':36s} {failed_frac:16.6f} {'ratio':6s} n={tally.attempted}")
    print(json.dumps({
        "correct": tally.failed == 0 and tally.attempted > 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "biosd_feature_annotator_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2

    input_dir, n_turns = prepare_input(args.workload, args.seed)
    tally = Tally()
    if args.trace:
        import layers

        metrics = layers.traced_run(args.workload, args.seed, input_dir, n_turns, tally)
        emit(metrics, {}, tally)
        return 0

    spark, _, campaign, setup_s = setup(args.workload, input_dir, n_turns, tally)
    ops = measure(campaign, args.seconds, tally)
    stop_spark(spark)
    if not ops:
        print("no campaign completed", file=sys.stderr)
        return 1
    # the traced run's overhead is taken against this first campaign
    write_record(f"untraced-{args.workload}-{args.seed}", {"first_campaign_s": ops[0]["wall_s"]})
    metrics = end_to_end(ops, setup_s)
    emit(metrics, {name: len(ops) for name in metrics if name != "setup_s"}, tally)
    return 0


if __name__ == "__main__":
    sys.exit(main())
