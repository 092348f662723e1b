"""Regenerate the committed oracle corpus fixture.

tests/golden/synth_corpus.parquet is a frozen single-file parquet of
synth_transcripts(spark, 2000) — the deterministic synthetic transcript
corpus used by the driver-verified transcripts_kg / entity_stats_kg
queries. Both engines read the SAME file: Spark runs the real pipeline on
it, DuckDB re-derives the expected triples per template in pure SQL
(__spark_entry__.oracle_sql), so the comparison is non-circular.

The file is committed so the oracle SQL can run even before the Spark
query has executed (the driver may run either side first).
tests/test_oracle_gates.py fails when the synthesizer drifts from the
committed file. Regenerate only if the synthesizer changes:

    python tools/gen_synth_corpus.py
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

OUT = os.path.join(REPO, "tests", "golden", "synth_corpus.parquet")


def corpus_table(spark):
    """synth_transcripts(spark, 2000) ordered by (conv_id, turn_idx), as
    the Arrow table the committed file holds."""
    import pyarrow as pa

    from biosd_feature_annotator_spark.synth import synth_transcripts

    pdf = (
        synth_transcripts(spark, 2000)
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    # Spark cannot read TIMESTAMP(NANOS) parquet — write microseconds
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    return pa.Table.from_pandas(pdf, preserve_index=False)


def main() -> None:
    import pyarrow.parquet as pq

    from biosd_feature_annotator_spark.session import get_spark

    spark = get_spark(master="local[4]", app_name="gen-synth-corpus")
    table = corpus_table(spark)
    pq.write_table(table, OUT)
    print(f"wrote {table.num_rows} rows to {OUT}")
    spark.stop()


if __name__ == "__main__":
    main()
