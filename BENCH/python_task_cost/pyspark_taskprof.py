"""A Python worker module that runs each task under cProfile.

Selected with ``spark.python.worker.module=pyspark_taskprof`` (the daemon
imports worker modules whose name starts with ``pyspark``) and this
directory on the workers' ``PYTHONPATH``. For every task it writes the
profile and a JSON line with the task's CPU and wall seconds into the
directory named by ``TASKPROF_DIR``.
"""

from __future__ import annotations

import cProfile
import json
import os
import time

from pyspark.worker import main as worker_main


def main(infile, outfile):
    out = os.environ["TASKPROF_DIR"]
    prof = cProfile.Profile()
    cpu0, wall0 = time.process_time(), time.perf_counter()
    prof.enable()
    try:
        worker_main(infile, outfile)
    finally:
        prof.disable()
        cpu, wall = time.process_time() - cpu0, time.perf_counter() - wall0
        # written under a temporary name and renamed, so a worker ended
        # mid-write (at session stop) leaves no truncated profile behind
        name = os.path.join(out, f"{os.getpid()}-{time.time_ns()}")
        prof.dump_stats(name + ".tmp")
        with open(name + ".json", "w") as f:
            json.dump({"cpu_s": cpu, "wall_s": wall}, f)
        os.replace(name + ".tmp", name + ".pstats")
