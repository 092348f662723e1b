"""A/B of the two similarity kernels on the registered queries that use them.

Up to the change that removed it, ``operators/similarity`` computed PQ
codes, PQ distance tables, IVF cells and LSH signatures twice: a
"catalyst" higher-order-function tree over centroid literals and an
"arrow" numpy pandas UDF with bit-identical output, chosen by a
``kernel=`` option. This script times both on the five registered
queries that reach them, so it runs only against a checkout that still
has the option (the commit before the removal).

One Spark session (``local[4]``, event log on) runs every query under
every kernel configuration once untimed (the ``cold`` row), then
``--reps`` timed rounds. Each round runs the five queries, and each
query under all of its configurations, in an order rotated from round to
round. A configuration sets the kernel of each computation:

- ``arrow`` / ``catalyst``: every computation on that kernel;
- ``codes_catalyst`` / ``dtab_catalyst`` (``emb_pq_topk`` only) and
  ``cells_catalyst`` (``emb_ivfpq_topk`` only): that one computation on
  catalyst and the others on arrow, to split a query's time between the
  computations it uses.

Each run is one job group; a run's wall time spans building the
DataFrame and collecting it. CPU comes from ``/proc`` (this Python
process, the JVM, the Python workers below the JVM) and from the event
log (``Executor CPU Time`` plus deserialize CPU of the run's tasks). In
local mode the driver and the executors share the JVM, so
``driver_cpu_s`` is this process plus the JVM minus the executor CPU.
Each run also records a digest of its sorted rows, so the configurations
can be checked to agree. Usage, from the root of the checkout to measure:

    python3 BENCH/similarity_one_kernel/kernel_ab.py <testdata>/sf0.1 \
        --reps 9 --out ab_sf0.1.jsonl

and ``--summary ab_sf0.1.jsonl`` prints the per-site medians of a
finished run.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.getcwd())

QUERIES = ["emb_pq_topk", "emb_ivf_topk", "emb_ann_topk", "emb_ivfpq_topk",
           "semantic_dedup_docs"]
SITES = ("codes", "dtab", "cells", "lsh")
CONFIGS = {
    "arrow": dict.fromkeys(SITES, "arrow"),
    "catalyst": dict.fromkeys(SITES, "catalyst"),
    "codes_catalyst": {**dict.fromkeys(SITES, "arrow"), "codes": "catalyst"},
    "dtab_catalyst": {**dict.fromkeys(SITES, "arrow"), "dtab": "catalyst"},
    "cells_catalyst": {**dict.fromkeys(SITES, "arrow"), "cells": "catalyst"},
}
QUERY_CONFIGS = {q: ["arrow", "catalyst"] for q in QUERIES}
QUERY_CONFIGS["emb_pq_topk"] += ["codes_catalyst", "dtab_catalyst"]
QUERY_CONFIGS["emb_ivfpq_topk"] += ["cells_catalyst"]
# (site, query, config) whose time against (query, "arrow") decides a site
SITE_EVIDENCE = {
    "codes": [("emb_pq_topk", "codes_catalyst")],
    "dtab": [("emb_pq_topk", "dtab_catalyst")],
    "cells": [("emb_ivf_topk", "catalyst"), ("semantic_dedup_docs", "catalyst"),
              ("emb_ivfpq_topk", "cells_catalyst")],
    "lsh": [("emb_ann_topk", "catalyst")],
}
_TICK = os.sysconf("SC_CLK_TCK")
KERNEL = dict(CONFIGS["arrow"])


def pin_kernels(S) -> None:
    """Route every kernel dispatch of the similarity module through
    ``KERNEL``, whatever kernel its caller asked for."""
    cells, codes, dtab, sig = S._cells_col, S._pq_codes_col, S._pq_dtab_col, S.lsh_signature
    S._cells_col = lambda v, c, n, kernel=None: cells(v, c, n, KERNEL["cells"])
    S._pq_codes_col = lambda v, cb, kernel=None: codes(v, cb, KERNEL["codes"])
    S._pq_dtab_col = lambda v, cb, kernel=None: dtab(v, cb, KERNEL["dtab"])
    S.lsh_signature = lambda v, p, kernel=None: sig(v, p, KERNEL["lsh"])


def _stat(pid: int) -> tuple[str, list[int]] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    name = raw[raw.index("(") + 1:raw.rindex(")")]
    return name, [int(x) for x in raw[raw.rindex(")") + 2:].split()[1:15]]


def proc_cpu() -> dict:
    """CPU seconds of the JVM and of the Python workers below it (workers
    that exited are in their parent's reaped-children fields)."""
    kids: dict[int, list[int]] = {}
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
                kids.setdefault(st[1][0], []).append(int(name))
    jvm = workers = 0
    todo = list(kids.get(os.getpid(), ()))
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        comm, f = stats[pid]
        if comm == "java":
            jvm += f[10] + f[11]
            workers += f[12] + f[13]
        elif comm.startswith("python"):
            workers += f[10] + f[11] + f[12] + f[13]
    ru = resource.getrusage(resource.RUSAGE_SELF)
    return {"py_driver": ru.ru_utime + ru.ru_stime, "jvm": jvm / _TICK,
            "workers": workers / _TICK}


def executor_cpu(event_log_dir: str) -> dict[str, float]:
    """Job group -> executor CPU seconds of its tasks, from the event log."""
    group_of_stage, cpu = {}, {}
    (path,) = [os.path.join(event_log_dir, p) for p in os.listdir(event_log_dir)]
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                for sid in ev.get("Stage IDs", ()):
                    group_of_stage[sid] = g
            elif kind == "SparkListenerTaskEnd":
                tm = ev.get("Task Metrics") or {}
                ns = tm.get("Executor CPU Time", 0) + tm.get("Executor Deserialize CPU Time", 0)
                g = group_of_stage.get(ev["Stage ID"], "")
                cpu[g] = cpu.get(g, 0.0) + ns / 1e9
    return cpu


def run_once(spark, entry, sf: str, query: str, config: str, rep: str) -> dict:
    KERNEL.update(CONFIGS[config])
    group = f"{query}|{config}|{rep}"
    spark.sparkContext.setJobGroup(group, group)
    c0, t0 = proc_cpu(), time.perf_counter()
    rows = getattr(entry, f"q_{query}")(spark, sf).collect()
    wall = time.perf_counter() - t0
    c1 = proc_cpu()
    digest = hashlib.sha256(repr(sorted(tuple(r) for r in rows)).encode()).hexdigest()
    return {"sf": os.path.basename(sf.rstrip("/")), "query": query, "config": config,
            "rep": rep, "group": group, "wall_s": round(wall, 4),
            **{f"{k}_cpu_s": round(c1[k] - c0[k], 3) for k in c0},
            "rows": len(rows), "digest": digest[:16]}


def measure(sf: str, reps: int, out: str) -> None:
    import __spark_entry__ as entry
    from biosd_feature_annotator_spark.operators import similarity as S
    from biosd_feature_annotator_spark.session import get_spark

    pin_kernels(S)
    log_dir = tempfile.mkdtemp(prefix="kernel_ab_events_")
    spark = get_spark(master="local[4]", app_name="kernel-ab", extra_conf={
        "spark.driver.memory": "4g",
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    })
    runs = [run_once(spark, entry, sf, q, c, "cold")
            for q in QUERIES for c in QUERY_CONFIGS[q]]
    for r in range(reps):
        for q in QUERIES[r % len(QUERIES):] + QUERIES[:r % len(QUERIES)]:
            cs = QUERY_CONFIGS[q]
            cs = cs[r % len(cs):] + cs[:r % len(cs)]
            runs += [run_once(spark, entry, sf, q, c, str(r)) for c in cs]
    spark.stop()
    exe = executor_cpu(log_dir)
    shutil.rmtree(log_dir)
    with open(out, "w") as f:
        for run in runs:
            run["executor_cpu_s"] = round(exe.get(run.pop("group"), 0.0), 3)
            run["driver_cpu_s"] = round(
                run["py_driver_cpu_s"] + run["jvm_cpu_s"] - run["executor_cpu_s"], 3)
            f.write(json.dumps(run) + "\n")
    summarize(out)


def summarize(path: str) -> None:
    runs = [json.loads(line) for line in open(path)]
    warm = [r for r in runs if r["rep"] != "cold"]

    def med(q, c, key):
        return statistics.median(r[key] for r in warm if (r["query"], r["config"]) == (q, c))

    def cold(q, c, key):
        return next(r[key] for r in runs if (r["query"], r["config"], r["rep"]) == (q, c, "cold"))

    keys = ("wall_s", "driver_cpu_s", "executor_cpu_s", "workers_cpu_s")
    print(f"# {runs[0]['sf']}: medians of {len({r['rep'] for r in warm})} warm reps; cold = first run")
    print(f"{'query':22s} {'config':15s} " + " ".join(f"{k:>15s}" for k in keys)
          + f" {'cold wall_s':>12s} digests")
    for q in QUERIES:
        for c in QUERY_CONFIGS[q]:
            digests = sorted({r["digest"] for r in runs if (r["query"], r["config"]) == (q, c)})
            print(f"{q:22s} {c:15s} " + " ".join(f"{med(q, c, k):15.3f}" for k in keys)
                  + f" {cold(q, c, 'wall_s'):12.3f} {','.join(digests)}")
        agree = len({r["digest"] for r in runs if r["query"] == q}) == 1
        print(f"{'':22s} all configurations return the same rows: {agree}")
    print("# per site: median wall_s of the catalyst-side config minus the arrow config")
    for site, ev in SITE_EVIDENCE.items():
        for q, c in ev:
            d = med(q, c, "wall_s") - med(q, "arrow", "wall_s")
            dc = (med(q, c, "driver_cpu_s") + med(q, c, "executor_cpu_s")
                  + med(q, c, "workers_cpu_s")) - (
                med(q, "arrow", "driver_cpu_s") + med(q, "arrow", "executor_cpu_s")
                + med(q, "arrow", "workers_cpu_s"))
            wins = sum(1 for r in sorted({r["rep"] for r in warm})
                       if next(x["wall_s"] for x in warm if (x["query"], x["config"], x["rep"]) == (q, c, r))
                       > next(x["wall_s"] for x in warm if (x["query"], x["config"], x["rep"]) == (q, "arrow", r)))
            print(f"{site:6s} {q:22s} {c:15s} wall {d:+.3f} s, cpu {dc:+.3f} s, "
                  f"arrow faster in {wins}/{len({r['rep'] for r in warm})} reps")


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("sf", nargs="?", help="directory of the scale factor's parquet tables")
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--out", default="kernel_ab.jsonl")
    ap.add_argument("--summary", help="print the summary of a finished run and exit")
    a = ap.parse_args()
    if a.summary:
        summarize(a.summary)
    else:
        measure(a.sf, a.reps, a.out)
