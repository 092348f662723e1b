"""Interchange drops through read_transcripts: JSONL via Spark's JSON
reader (split scan, lossless, ts/extra-key/stray-file parsing, torn
lines fail), CSV via the CSV reader, and pipeline integration (JSONL
corpus → same triples as the in-memory corpus)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from biosd_feature_annotator_spark.sources.transcripts import read_transcripts
from biosd_feature_annotator_spark.synth import synth_transcripts


def _dump(df, path: str, n_files: int = 3) -> None:
    rows = df.collect()
    os.makedirs(path, exist_ok=True)
    for i in range(n_files):
        with open(os.path.join(path, f"f{i}.jsonl"), "w") as fh:
            for r in rows[i::n_files]:
                o = r.asDict()
                o["ts"] = o["ts"].isoformat() if o["ts"] else None
                fh.write(json.dumps(o) + "\n")


def _key(r):
    return (r.conv_id, r.turn_idx, r.role, r.text, r.tool, r.ts)


def test_read_is_partitioned_and_lossless(spark, tmp_path):
    src = synth_transcripts(spark, 300)
    p = str(tmp_path / "drop")
    _dump(src, p, n_files=3)
    conf = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "4096")
    try:
        got = read_transcripts(spark, p)
        assert got.rdd.getNumPartitions() > 1  # the scan is split
        assert sorted(map(_key, got.collect())) == sorted(map(_key, src.collect()))
    finally:
        spark.conf.set(conf, prev)


def test_pipeline_over_jsonl_matches_in_memory(spark, lexicon, tmp_path):
    from biosd_feature_annotator_spark.plans.pipeline import annotate

    src = synth_transcripts(spark, 500)
    p = str(tmp_path / "kg_drop")
    _dump(src, p, n_files=2)
    jl = read_transcripts(spark, p)

    def fp(df):
        t = annotate(spark, df, lexicon, build_graph=False, cache_mentions=False)["triples"]
        return sorted((r.subj, r.pred, r.obj) for r in t.collect())

    assert fp(jl) == fp(src)


def test_read_transcripts_routes_jsonl(spark, tmp_path):
    src = synth_transcripts(spark, 100)
    p = str(tmp_path / "route_drop")
    _dump(src, p, n_files=2)
    got = read_transcripts(spark, p, conv_ids=None)
    assert got.count() == src.count()
    scoped = read_transcripts(spark, p, conv_ids=["c0000000000"])
    assert 0 < scoped.count() < src.count()


def test_read_transcripts_routes_csv(spark, tmp_path):
    """S1 breadth: a CSV drop directory routes through Spark's native CSV
    reader with the contract schema and survives the round trip."""
    import csv

    src = synth_transcripts(spark, 120)
    p = tmp_path / "csvdrop"
    p.mkdir()
    rows = src.collect()
    for i in range(2):
        with open(p / f"f{i}.csv", "w", newline="") as fh:
            w = csv.writer(fh)
            w.writerow(["conv_id", "turn_idx", "role", "text", "tool", "ts"])
            for r in rows[i::2]:
                w.writerow([r.conv_id, r.turn_idx, r.role, r.text,
                            r.tool or "", r.ts.isoformat() if r.ts else ""])
    got = read_transcripts(spark, str(p))
    assert got.count() == src.count()
    a = sorted((r.conv_id, r.turn_idx, r.role, r.text) for r in got.collect())
    b = sorted((r.conv_id, r.turn_idx, r.role, r.text) for r in src.collect())
    assert a == b
    scoped = read_transcripts(spark, str(p), conv_ids=[rows[0].conv_id])
    assert 0 < scoped.count() < src.count()


def test_jsonl_permissive_mode_skips_torn_lines(spark, tmp_path):
    """A torn line (truncated tail from a crashed producer) fails the
    read: JSONL drops are read FAILFAST, so corruption stops an ingest
    instead of silently shrinking it. No permissive skip mode exists."""
    src = synth_transcripts(spark, 90)
    p = str(tmp_path / "drop")
    _dump(src, p, n_files=1)
    with open(os.path.join(p, "f0.jsonl"), "a") as fh:
        fh.write('{"conv_id": "torn", "turn_i\n')  # truncated tail

    with pytest.raises(Exception):
        read_transcripts(spark, p).count()


def test_jsonl_parses_ts_forms_extra_keys_and_skips_stray_files(spark, tmp_path):
    """ISO-8601 ts with a microsecond fraction, a UTC offset (normalized
    to the UTC session zone), a space separator, and null all parse;
    unknown keys are ignored; a non-.jsonl file in the drop is skipped;
    the path may name the .jsonl file itself."""
    p = tmp_path / "drop"
    p.mkdir()
    turns = [
        {"turn_idx": 0, "ts": "2024-01-02T03:04:05.123456"},
        {"turn_idx": 1, "ts": "2024-01-02T03:04:05+02:00"},
        {"turn_idx": 2, "ts": "2024-01-02 03:04:05"},
        {"turn_idx": 3, "ts": None},
        {"turn_idx": 4, "ts": "2024-01-02T03:04:05", "extra": {"x": [1]}},
    ]
    with open(p / "a.jsonl", "w") as fh:
        for t in turns:
            fh.write(json.dumps({"conv_id": "c1", "role": "user",
                                 "text": "hi", "tool": None, **t}) + "\n")
    (p / "notes.txt").write_text("not json\n")

    want = [
        (0, "2024-01-02 03:04:05.123456"),
        (1, "2024-01-02 01:04:05.000000"),
        (2, "2024-01-02 03:04:05.000000"),
        (3, None),
        (4, "2024-01-02 03:04:05.000000"),
    ]
    for path in (str(p), str(p / "a.jsonl")):
        got = read_transcripts(spark, path).select(
            "turn_idx", F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        )
        assert sorted(tuple(r) for r in got.collect()) == want
