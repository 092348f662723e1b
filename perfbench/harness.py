"""Session, campaign and bookkeeping shared by the timed and the traced run.

Everything here writes under ``.bench_work/`` in the repository root:
generated inputs, Spark's local and temporary directories, the event log
and the campaigns' output.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import time
import traceback

import gen
import procstat

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")

# why each workload exists is recorded in BENCHMARK.json
WORKLOADS = {
    "campaign_text": dict(generate=gen.campaign_text, n_turns=30_000),
    "campaign_entities": dict(generate=gen.campaign_entities, n_turns=30_000),
}
WARMUP_CAMPAIGNS = 2
N_PARTS = 32  # jobs/annotate.py default
RUN_ID = "bench"
DRIVER_MEMORY = "3g"
# G1 starts small and enlarges the heap in steps of a few hundred MB at
# timing-dependent points, which split peak_rss_mb between runs into two
# levels 15-25% apart; starting at about the size a campaign settles to
# keeps the steps out of the measurement (a campaign needing more heap
# still grows past it)
INITIAL_HEAP = "1536m"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def tail_percentile(n: int) -> int | None:
    """Highest of the usual percentiles with at least ten samples above
    it among ``n`` samples; None when there are fewer than 20."""
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            return p
    return None


def percentile(values: list[float], p: float) -> float:
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) of the data files under ``path``."""
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


def prepare_input(workload: str, seed: int) -> tuple[str, int]:
    """Generate the workload's input for ``seed``; return its directory
    and turn count."""
    root = os.path.join(WORK, "inputs", workload)
    shutil.rmtree(root, ignore_errors=True)
    corpus = WORKLOADS[workload]["generate"](seed, WORKLOADS[workload]["n_turns"])
    return root, gen.write_campaign(corpus, root)


def start_spark(event_log: str | None = None):
    """One local session sized to this box. The event log, when asked
    for, is written uncompressed and unrolled so eventlog.fold can read
    it after the session stops."""
    for sub in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from biosd_feature_annotator_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions":
            f"-Xms{INITIAL_HEAP} -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(master=f"local[{cores()}]", app_name="perfbench", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, end the JVM it launched and wait until every
    child process has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the launched JVM exits when its stdin closes
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while len(procstat.tree_pids(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.2)


class Campaign:
    """One workload's campaign operation and its output check."""

    def __init__(self, spark, lex, input_dir: str, n_turns: int, out_dir: str):
        self.spark, self.lex = spark, lex
        self.input_dir, self.n_turns, self.out_dir = input_dir, n_turns, out_dir

    def run(self) -> dict:
        """Time one run_annotate from the call until its manifest rows
        are collected; check the outputs afterwards, untimed."""
        from biosd_feature_annotator_spark.plans.materialize import run_annotate
        from biosd_feature_annotator_spark.sources.transcripts import read_transcripts

        shutil.rmtree(self.out_dir, ignore_errors=True)
        cpu0 = procstat.tree_cpu_s()
        t0 = time.perf_counter()
        manifest = run_annotate(
            self.spark,
            read_transcripts(self.spark, os.path.join(self.input_dir, "input", "turns.parquet")),
            self.lex, out_dir=self.out_dir, run_id=RUN_ID, n_parts=N_PARTS,
            build_graph=True,
        )
        rows = manifest.groupBy().sum("n_rows", "n_triples").collect()[0]
        wall = time.perf_counter() - t0
        cpu = procstat.tree_cpu_s() - cpu0
        peak_rss = procstat.descendants_peak_rss_bytes()
        from checks import check_campaign

        problems = check_campaign(self.out_dir, RUN_ID, os.path.join(self.input_dir, "expected"),
                                  self.n_turns, int(rows[0] or 0))
        _, out_bytes = dir_bytes(self.out_dir)
        return dict(wall_s=wall, cpu_s=cpu, peak_rss=peak_rss, turns=self.n_turns,
                    triples=int(rows[1] or 0), out_bytes=out_bytes, problems=problems)


class Tally:
    """Operations attempted and failed, with the reason for each failure."""

    def __init__(self):
        self.attempted = self.failed = 0

    def record(self, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            for p in problems:
                print(f"FAILED: {p}", file=sys.stderr)

    def guard(self, fn):
        """Call fn; an exception counts as one failed operation."""
        try:
            return fn()
        except Exception:
            traceback.print_exc()
            self.record(["operation raised"])
            return None


def setup(workload: str, input_dir: str, n_turns: int, tally: Tally,
          event_log: str | None = None):
    """Session, lexicon and ``WARMUP_CAMPAIGNS`` campaigns over the
    workload's input: the set-up a campaign CLI pays once, plus the
    settling the JVM needs before campaign times stop falling. The first
    campaign spawns the Python workers and compiles the plans the later
    campaigns reuse; a smaller input would be planned differently (join
    strategies, partition counts) and leave them cold. The second runs
    while the JIT is still compiling the hot paths. Every warm-up campaign
    is checked like a timed one. Returns the session, the lexicon, the
    campaign and the set-up wall time."""
    t0 = time.perf_counter()
    spark = start_spark(event_log)
    from biosd_feature_annotator_spark.synth import bench_lexicon

    lex = bench_lexicon(gen.LEXICON_TERMS)
    campaign = Campaign(spark, lex, input_dir, n_turns, os.path.join(WORK, workload, "out"))
    for _ in range(WARMUP_CAMPAIGNS):
        tally.record(campaign.run()["problems"])
    return spark, lex, campaign, time.perf_counter() - t0


def code_key() -> str:
    """Digest of the engine's and the benchmark's source files: records
    written by one version of the code are never read by another."""
    h = hashlib.sha256()
    for top in ("biosd_feature_annotator_spark", "perfbench"):
        for d, dirs, files in sorted(os.walk(os.path.join(ROOT, top))):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(d, f)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def _record_path(name: str) -> str:
    return os.path.join(WORK, "records", f"{name}-{code_key()}.json")


def write_record(name: str, value: dict) -> None:
    """Keep a result for a later run of the same code to compare with."""
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    with open(_record_path(name), "w") as f:
        json.dump(value, f)


def read_record(name: str) -> dict | None:
    try:
        with open(_record_path(name)) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def measure(campaign: Campaign, seconds: float, tally: Tally) -> list[dict]:
    """Campaigns back to back until ``seconds`` have passed (at least one)."""
    ops: list[dict] = []
    t_end = time.perf_counter() + seconds
    while not ops or time.perf_counter() < t_end:
        op = tally.guard(campaign.run)
        if op is None:
            break
        tally.record(op["problems"])
        ops.append(op)
    return ops


