"""SparkSession factory tuned for the KG-construction workload.

Local mode is a stand-in for a multi-executor cluster: every knob here
(AQE, shuffle partitions, Arrow batching, broadcast threshold) is the one
you would set cluster-side too. The Iceberg catalog config is applied only
when the runtime jar is present (SURVEY.md §7.3: not available in this
sandbox — the parquet backend in plans/materialize.py keeps the same
partition layout so the cluster path is one --packages flag away).

Every Parquet file the engine writes (triple sink, manifests, nodes and
edges, stream sinks, swapped stream state) is ZSTD at Spark's default
level, Iceberg's own Parquet default since 1.4, instead of Spark's Snappy.
On perfbench's seed-1 outputs that stores the same rows in ~25% fewer
bytes (campaign_text, out_bytes_per_turn 15.2 -> 11.5) to ~28% fewer
(campaign_entities, 34.6 -> 25.0; README has the bytes per table). Reads
need no setting: Parquet records the codec per column chunk, so Snappy
stores written before still read and resume. A session built without
get_spark keeps its own codec. The shuffle codec stays Spark's lz4.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# One Arrow batch per ~10k rows keeps pandas-UDF peak memory bounded at
# wide text rows while amortizing Python<->JVM transfer. At 100 TB this is
# per-task, so it is scale-invariant.
ARROW_BATCH_ROWS = 10_000


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def _local_threads(master: str, cores: int) -> int:
    """The worker-thread count N of a ``local[N]`` or ``local[N,F]``
    (F = max task failures) master; 1 for a bare ``local``, which Spark
    runs on one thread; ``cores`` for ``local[*]`` and for non-local
    masters."""
    if master == "local":
        return 1
    n = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
    n = n.split(",")[0]
    return cores if n in ("*", "") else int(n)


def get_spark(
    master: str | None = None,
    app_name: str = "biosd_feature_annotator_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession.

    shuffle_partitions defaults to the core count in local mode; on a real
    cluster set it to ~2-3x total executor cores (AQE coalesces the rest).
    """
    cores = default_parallelism()
    master = master or f"local[{cores}]"
    if shuffle_partitions is None:
        # local[N] — match N; AQE coalesce trims small shuffles anyway.
        shuffle_partitions = _local_threads(master, cores)

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        # 64 MiB split target: big enough to amortize task overhead, small
        # enough that a 100 TB table still yields ~1.6M splits (fine for a
        # 1000-executor DAGScheduler).
        .config("spark.sql.files.maxPartitionBytes", str(64 * 1024 * 1024))
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """A driver-built table as a DataFrame that plans as a ``LocalRelation``.

    ``spark.createDataFrame(<list of tuples>)`` plans as a scan over a
    pickled Python RDD, so every action that reads it runs a job on Python
    workers to unpickle it, and the optimizer sees no size for it. Built
    from an Arrow table instead, the rows travel to the JVM once, with the
    Arrow conf on or off, and the plan carries exact statistics (what the
    size-aware broadcast hint in operators/link reads). ``schema`` is a DDL
    string; each row is a tuple in its column order."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(struct)
    # column by column: a 15k-row dictionary converts in ~2 ms this way
    # and ~19 ms as one dict per row (pa.Table.from_pylist)
    cols = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, struct)
