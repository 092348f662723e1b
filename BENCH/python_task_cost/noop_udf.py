"""The fixed cost of a Python task: a no-op ``mapInArrow`` over the
repartitioned campaign input against the scan and shuffle alone.

Starts a session the way perfbench does (``perfbench/harness.start_spark``),
reads perfbench's input for ``--workload``/``--seed`` and repartitions it
the way ``plans/pipeline.annotate`` does (``defaultParallelism * 2`` parts
by ``conv_id``). Then, after one untimed pass of each, it alternates
``--repeat`` timed passes of two plans:

- ``scan_shuffle``: the repartitioned scan, written to Spark's ``noop``
  sink;
- ``noop_udf``: the same plan through a ``mapInArrow`` whose body only
  counts the rows of each batch and times itself, collected (one row per
  task).

Wall time is the action's; CPU is that of this process tree (driver, JVM,
Python workers) from ``/proc``. With ``--profile DIR`` the workers run
``pyspark_taskprof`` (next to this script), which profiles every task;
the script then prints the per-task CPU and the functions with the most
cumulative time, summed over the ``noop_udf`` passes' tasks.

    python3 BENCH/python_task_cost/noop_udf.py --workload campaign_text --seed 1
    python3 BENCH/python_task_cost/noop_udf.py --profile .bench_work/taskprof
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import pstats
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

import harness  # noqa: E402
import procstat  # noqa: E402


def noop_body(batches):
    import time as _t

    import pyarrow as pa

    t0 = _t.perf_counter()
    rows = 0
    for b in batches:
        rows += b.num_rows
    yield pa.record_batch([pa.array([rows], pa.int64()),
                           pa.array([_t.perf_counter() - t0], pa.float64())],
                          names=["rows", "body_s"])


def timed(action) -> dict:
    cpu0, t0 = procstat.tree_cpu_s(), time.perf_counter()
    out = action()
    return {"wall_s": time.perf_counter() - t0, "cpu_s": procstat.tree_cpu_s() - cpu0,
            "out": out}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", default="campaign_text", choices=sorted(harness.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--repeat", type=int, default=5)
    ap.add_argument("--profile")
    args = ap.parse_args()

    if args.profile:
        os.makedirs(args.profile, exist_ok=True)
        for f in glob.glob(os.path.join(args.profile, "*")):
            os.remove(f)
        os.environ["TASKPROF_DIR"] = os.path.abspath(args.profile)
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (HERE, os.environ.get("PYTHONPATH")) if p)
        # start_spark builds its session with get_spark; the worker module
        # is a core conf, so it has to be there when the context starts
        from biosd_feature_annotator_spark import session

        get_spark = session.get_spark
        session.get_spark = lambda **kw: get_spark(**{**kw, "extra_conf": {
            **kw["extra_conf"], "spark.python.worker.module": "pyspark_taskprof"}})
    input_dir, n_turns = harness.prepare_input(args.workload, args.seed)
    spark = harness.start_spark()
    from pyspark.sql import functions as F

    from biosd_feature_annotator_spark.sources.transcripts import read_transcripts

    src = read_transcripts(spark, os.path.join(input_dir, "input", "turns.parquet"))
    n = spark.sparkContext.defaultParallelism * 2
    rep = src.repartition(n, F.col("conv_id"))
    plans = {
        "scan_shuffle": lambda: rep.write.format("noop").mode("overwrite").save(),
        "noop_udf": lambda: rep.mapInArrow(noop_body, "rows long, body_s double").collect(),
    }
    for action in plans.values():
        action()
    if args.profile:
        for f in glob.glob(os.path.join(args.profile, "*")):
            os.remove(f)
    runs: dict[str, list[dict]] = {k: [] for k in plans}
    for _ in range(args.repeat):
        for name, action in plans.items():
            runs[name].append(timed(action))
    harness.stop_spark(spark)

    result = {"workload": args.workload, "seed": args.seed, "turns": n_turns, "tasks": n,
              "repeat": args.repeat}
    for name, rs in runs.items():
        result[name] = {"wall_s_median": round(statistics.median(r["wall_s"] for r in rs), 3),
                        "cpu_s_median": round(statistics.median(r["cpu_s"] for r in rs), 3)}
    bodies = [row.body_s for r in runs["noop_udf"] for row in r["out"]]
    result["noop_udf"]["body_ms_median"] = round(1000 * statistics.median(bodies), 2)
    result["noop_udf"]["body_ms_max"] = round(1000 * max(bodies), 2)
    if args.profile:
        tasks = [json.load(open(f[:-len(".pstats")] + ".json"))
                 for f in glob.glob(os.path.join(args.profile, "*.pstats"))]
        result["profiled_tasks"] = len(tasks)
        result["task_cpu_s_median"] = round(statistics.median(t["cpu_s"] for t in tasks), 3)
        result["task_wall_s_median"] = round(statistics.median(t["wall_s"] for t in tasks), 3)
    print(json.dumps(result))
    if args.profile:
        stats = pstats.Stats(*glob.glob(os.path.join(args.profile, "*.pstats")))
        stats.sort_stats("cumulative").print_stats(25)


if __name__ == "__main__":
    main()
