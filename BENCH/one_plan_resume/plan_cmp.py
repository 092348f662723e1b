"""Compare the physical plans of every SQL execution in two Spark event logs.

Expression ids, absolute paths, object hashes and long numbers (sizes,
timestamps) are masked, so two runs of the same plan compare equal. Prints
the execution count of each log and the indices whose plans differ, with a
diff of the first two.

    python3 BENCH/one_plan_resume/plan_cmp.py <event log A> <event log B>

The event logs come from ``campaign_jobs.py`` runs (``.bench_work/jobs-eventlog/``
of each checkout): two warm-up campaigns and the fused one, 6 SQL executions
each.
"""

import difflib
import json
import re
import sys


def plans(path: str) -> list[str]:
    out = []
    for line in open(path):
        ev = json.loads(line)
        if ev.get("Event", "").endswith("SparkListenerSQLExecutionStart"):
            d = ev.get("physicalPlanDescription", "")
            d = re.sub(r"#\d+L?", "#", d)
            d = re.sub(r"/[^\s,\]\)]*", "<path>", d)
            d = re.sub(r"@[0-9a-f]{5,}", "@", d)
            d = re.sub(r"\b\d{6,}\b", "<n>", d)
            d = re.sub(r"plan_id=\d+", "plan_id=", d)
            out.append(d)
    return out


def main() -> None:
    a, b = plans(sys.argv[1]), plans(sys.argv[2])
    print("executions", len(a), len(b))
    diff = [i for i, (x, y) in enumerate(zip(a, b)) if x != y]
    print("differing plans", diff)
    for i in diff[:2]:
        print("\n".join(list(difflib.unified_diff(
            a[i].splitlines(), b[i].splitlines(), lineterm=""))[:60]))


if __name__ == "__main__":
    main()
