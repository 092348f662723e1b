"""Spark jobs and Python processes of one fused campaign.

Sets up like a perfbench run (session with the event log on, the 5k-term
lexicon, two warm-up campaigns over the workload's input), then runs one
more ``run_annotate`` inside the job group ``fused`` and prints one JSON
line: the jobs, stages and tasks of that group from the event log, the
names of its jobs' first stages, and the Python processes in this
process's tree (this driver, the worker daemon and its forked workers)
after the warm-up and after the fused campaign, read from ``/proc``.

Run from the root of the checkout to measure:

    python3 BENCH/lexicon_local_relation/campaign_jobs.py --workload campaign_text --seed 1
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path[:0] = [os.getcwd(), os.path.join(os.getcwd(), "perfbench")]

import harness  # noqa: E402
import procstat  # noqa: E402


def python_procs() -> list[str]:
    """Command lines of the Python processes in this process's tree."""
    out = []
    for pid in procstat.tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                argv = f.read().split(b"\0")
        except OSError:  # ended between listing and reading
            continue
        if b"python" in os.path.basename(argv[0]):
            out.append(" ".join([os.path.basename(argv[0]).decode()]
                                + [a.decode() for a in argv[1:] if a]))
    return out


def group_jobs(path: str, group: str) -> dict:
    jobs, stages, names = [], set(), []
    stage_of_job: dict[int, list[int]] = {}
    tasks = 0
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                if (ev.get("Properties") or {}).get("spark.jobGroup.id") != group:
                    continue
                jobs.append(ev["Job ID"])
                stage_of_job[ev["Job ID"]] = ev.get("Stage IDs", [])
                stages.update(ev.get("Stage IDs", []))
                infos = ev.get("Stage Infos") or []
                name = infos[0]["Stage Name"] if infos else ""
                names.append(name.replace(os.getcwd() + os.sep, ""))
            elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stages:
                tasks += 1
    return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks, "job_first_stage": names}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(harness.WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()

    input_dir, n_turns = harness.prepare_input(args.workload, args.seed)
    log_dir = os.path.join(harness.WORK, "jobs-eventlog")
    os.makedirs(log_dir, exist_ok=True)
    tally = harness.Tally()
    spark, _lex, campaign, _ = harness.setup(
        args.workload, input_dir, n_turns, tally, event_log=log_dir)
    after_setup = python_procs()
    sc = spark.sparkContext
    sc.setJobGroup("fused", "fused")
    op = campaign.run()
    sc.setLocalProperty("spark.jobGroup.id", None)
    tally.record(op["problems"])
    after_fused = python_procs()
    app_id = sc.applicationId
    harness.stop_spark(spark)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed,
        "correct": tally.failed == 0, "attempted": tally.attempted,
        "fused_wall_s": round(op["wall_s"], 3),
        **group_jobs(os.path.join(log_dir, app_id), "fused"),
        "python_procs_after_setup": len(after_setup),
        "python_procs_after_fused": len(after_fused),
        "python_proc_cmdlines": after_fused,
    }))


if __name__ == "__main__":
    main()
