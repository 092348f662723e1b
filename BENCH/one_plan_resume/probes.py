"""Two probes behind this change's docstrings and FOUND line; one JSON line.

1. The stream's micro-batch plan: ``annotate(..., repartition=0,
   build_graph=False)["extracted"]`` over ``synth_transcripts(spark,
   800)``, with and without ``cache_mentions``. Counts the
   ``MapInPandas`` operators in the executed plan of a write of that
   frame without the cache, and the ``InMemoryTableScan`` operators with
   it (the cached plan prints under each scan but runs once). Then times
   the write (2 warm-up runs, then 10 alternating runs each).
2. The input's schema inference: the Spark jobs that building (not
   running) ``read_transcripts(spark, <parquet dir>)`` starts, against
   ``spark.read.schema(TRANSCRIPT_SCHEMA).parquet(<parquet dir>)``.

Run from the root of the checkout:

    SPARK_GRAFT_CPUS=4 python3 BENCH/one_plan_resume/probes.py
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.getcwd())

from biosd_feature_annotator_spark.plans.pipeline import annotate  # noqa: E402
from biosd_feature_annotator_spark.session import get_spark  # noqa: E402
from biosd_feature_annotator_spark.sources.lexicon import load_lexicon  # noqa: E402
from biosd_feature_annotator_spark.sources.transcripts import (  # noqa: E402
    TRANSCRIPT_SCHEMA,
    read_transcripts,
)
from biosd_feature_annotator_spark.synth import synth_transcripts  # noqa: E402


def jobs_of(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup("", "")
    return len(sc.statusTracker().getJobIdsForGroup(group))


def main() -> None:
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    lex = load_lexicon(os.path.join("tests", "golden", "lexicon.json"))
    batch = synth_transcripts(spark, 800).persist()
    batch.count()
    out: dict = {"turns": batch.count()}
    with tempfile.TemporaryDirectory() as tmp:
        def write(cache: bool):
            df = annotate(spark, batch, lex, repartition=0, build_graph=False,
                          cache_mentions=cache)["extracted"]
            df.write.mode("overwrite").parquet(os.path.join(tmp, "x"))
            return df

        def executed(cache: bool) -> str:
            return write(cache)._jdf.queryExecution().executedPlan().toString()

        out["map_in_pandas_uncached"] = executed(False).count("MapInPandas")
        out["in_memory_scans_cached"] = executed(True).count("InMemoryTableScan")
        for _ in range(2):
            write(True), write(False)
        times = {True: [], False: []}
        for i in range(20):
            cache = i % 2 == 0
            t = time.perf_counter()
            write(cache)
            times[cache].append(time.perf_counter() - t)
        out["write_s_median_cache_True"] = statistics.median(times[True])
        out["write_s_median_cache_False"] = statistics.median(times[False])
        out["write_s_cache_True"] = times[True]
        out["write_s_cache_False"] = times[False]

        path = os.path.join(tmp, "turns.parquet")
        batch.write.parquet(path)
        out["jobs_read_transcripts"] = jobs_of(
            spark, "infer", lambda: read_transcripts(spark, path))
        out["jobs_declared_schema_read"] = jobs_of(
            spark, "declared", lambda: spark.read.schema(TRANSCRIPT_SCHEMA).parquet(path))
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
