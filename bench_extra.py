"""Per-query isolation harness for the r6 optimization round (guide §1).

NOT the frozen bench: bench.py stays the driver's measurement contract.
This file exists to (a) time one query (or a short list) with min-of-N
reps without paying the full-suite wall, (b) capture
.explain("formatted") plans into plans/r06/, and (c) force with the noop
sink (guide §1.4) instead of count() when asked, so the computation is
timed rather than the sink or the optimizer's count-pruning.

Usage:
    python bench_extra.py [--reps N] [--noop] [--explain TAG] q1 q2 ...

Names are full query names: a key of __spark_entry__._query_registry()
or of R6_QUEUE_ORACLES (queued queries, built by q_<name>), or one of the
extras bench.py times (kg_annotate / kg_graph_cc pipeline entries,
cc_incremental_fold). Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS,
SPARK_GRAFT_BENCH_TURNS as in bench.py.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from biosd_feature_annotator_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
BENCH_TURNS = int(os.environ.get("SPARK_GRAFT_BENCH_TURNS", "100000"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--noop", action="store_true",
                    help="force with the noop sink instead of count()")
    ap.add_argument("--explain", default=None,
                    help="write plans/r06/<query>_<TAG>.txt explain files")
    args = ap.parse_args()

    import __spark_entry__ as entrymod

    spark = get_spark(master=f"local[{CPUS}]", app_name="bench_extra")

    def force(df) -> int:
        if args.noop:
            df.write.format("noop").mode("overwrite").save()
            return -1
        return df.count()

    # same warm-up protocol as bench.py: parquet page cache + workers
    for tbl in ("region", "nation", "customer", "supplier", "part",
                "orders", "lineitem", "events", "documents", "embeddings"):
        spark.read.parquet(os.path.join(SF_DIR, f"{tbl}.parquet")).count()

    # registered queries, then the queued ones (keys of R6_QUEUE_ORACLES)
    qfns = entrymod._query_registry()
    qfns.update({n: getattr(entrymod, f"q_{n}") for n in entrymod.R6_QUEUE_ORACLES})
    builders = {n: (lambda f=fn: f(spark, SF_DIR)) for n, fn in qfns.items()}

    pipeline_names = {"kg_annotate", "kg_graph_cc"}
    if pipeline_names & set(args.names):
        from biosd_feature_annotator_spark.plans.pipeline import annotate
        from biosd_feature_annotator_spark.synth import bench_lexicon, synth_transcripts

        lex = bench_lexicon(5000)
        transcripts = synth_transcripts(spark, BENCH_TURNS).persist()
        transcripts.count()
        # untimed spin-up, as in bench.py
        annotate(spark, transcripts.limit(5000), lex, build_graph=False)[
            "triples"
        ].count()
        builders["kg_annotate"] = lambda: annotate(
            spark, transcripts, lex, build_graph=False
        )["triples"]
        builders["kg_graph_cc"] = lambda: annotate(
            spark, transcripts.where("conv_id like 'c0000000%'"), lex
        )["nodes"]

    if "cc_incremental_fold" in args.names:
        from pyspark.sql import functions as F

        from biosd_feature_annotator_spark.operators.canonicalize import (
            connected_components,
            incremental_components,
        )

        li_cc = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet")) \
            .where("l_orderkey < 2000")

        def _cc_edge(d):
            return d.select(
                F.col("l_orderkey").cast("long").alias("src"),
                (F.col("l_partkey") + 10_000_000).cast("long").alias("dst"),
            ).dropDuplicates()

        base_assign = connected_components(
            _cc_edge(li_cc.where("l_linenumber >= 3"))
        ).localCheckpoint(eager=True)
        delta_cc = _cc_edge(li_cc.where("l_linenumber < 3"))
        builders["cc_incremental_fold"] = lambda: incremental_components(
            base_assign, delta_cc
        )

    out = {}
    for name in args.names:
        build = builders[name]
        if args.explain:
            os.makedirs("plans/r06", exist_ok=True)
            with open(f"plans/r06/{name}_{args.explain}.txt", "w") as fh:
                fh.write(build()._sc_explain_str()
                         if hasattr(build(), "_sc_explain_str")
                         else build()._jdf.queryExecution().explainString(
                             spark._jvm.org.apache.spark.sql.execution
                             .ExplainMode.fromString("formatted")))
        if args.reps <= 0:
            out[name] = {"explained": True}
            print(json.dumps({name: out[name]}), flush=True)
            continue
        samples = []
        for _ in range(args.reps):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.time()
            force(build())
            samples.append(round(time.time() - t0, 3))
        out[name] = {"min": min(samples), "samples": samples}
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps({"sf_dir": SF_DIR, "results": out}))
    spark.stop()


if __name__ == "__main__":
    main()
