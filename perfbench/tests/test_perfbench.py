"""Tests of the benchmark's own parts; no Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import inspect
import json
import os
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path[:0] = [os.path.dirname(HERE), ROOT, os.path.join(ROOT, "tools")]

import checks  # noqa: E402
import gen  # noqa: E402
from eventlog import fold  # noqa: E402
from harness import Tally, tail_percentile  # noqa: E402


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


@pytest.mark.parametrize("make", [gen.campaign_text, gen.campaign_entities])
def test_campaign_generator_is_deterministic_per_seed(tmp_path, make):
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        gen.write_campaign(make(seed, 500), str(tmp_path / name))
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))


def test_stream_generator_is_deterministic_per_seed(tmp_path):
    for name in ("a", "b"):
        gen.write_stream(gen.campaign_text(3, 400), str(tmp_path / name / "stream"), 4)
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    drop = tmp_path / "a" / "stream" / "input" / "drop"
    mtimes = [os.path.getmtime(drop / f) for f in sorted(os.listdir(drop))]
    assert len(mtimes) == 4 and mtimes == sorted(set(mtimes))


def test_entity_turns_carry_three_planted_entities():
    corpus = gen.campaign_entities(1, 300)
    n_turns = len(corpus["turns"][0])
    assert len(corpus["extracted"]) == 3 * n_turns
    assert sum(n for *_, n in corpus["nodes"]) == 3 * n_turns


def _fake_engine_output(expected: str, out: str) -> None:
    """Write expected sets in the layout run_annotate produces."""
    triples = pq.read_table(os.path.join(expected, "triples.parquet"))
    part = os.path.join(out, "triples", "run_id=bench", "part_id=0")
    os.makedirs(part)
    pq.write_table(triples, os.path.join(part, "part-0.parquet"))
    nodes = pq.read_table(os.path.join(expected, "nodes.parquet")).to_pandas()
    nodes["aliases"] = nodes["aliases"].str.split("|")
    for name, df in (("nodes", nodes),
                     ("edges", pq.read_table(os.path.join(expected, "edges.parquet")).to_pandas())):
        os.makedirs(os.path.join(out, name, "run_id=bench"))
        df.to_parquet(os.path.join(out, name, "run_id=bench", "part-0.parquet"))


def _corrupt_one_row(path: str, column: str) -> None:
    """Append a letter to the first non-null value of ``column``."""
    table = pq.read_table(path)
    df = table.to_pandas()
    row = df[column].first_valid_index()
    df.loc[row, column] = df.loc[row, column] + "x"
    pq.write_table(pa.Table.from_pandas(df, schema=table.schema, preserve_index=False), path)


def test_one_corrupted_output_row_fails_the_campaign(tmp_path):
    root, out = str(tmp_path / "in"), str(tmp_path / "out")
    n = gen.write_campaign(gen.campaign_entities(2, 300), root)
    expected = os.path.join(root, "expected")
    _fake_engine_output(expected, out)
    assert checks.check_campaign(out, "bench", expected, n, n) == []
    assert checks.check_campaign(out, "bench", expected, n, n - 1) != []

    tally = Tally()
    tally.record(checks.check_campaign(out, "bench", expected, n, n))
    _corrupt_one_row(os.path.join(out, "triples", "run_id=bench", "part_id=0",
                                  "part-0.parquet"), "obj")
    tally.record(checks.check_campaign(out, "bench", expected, n, n))
    assert (tally.attempted, tally.failed) == (2, 1)


@pytest.mark.parametrize("column", ["unit", "confidence", "provenance", "conv_id"])
def test_one_corrupted_triple_column_fails_the_campaign(tmp_path, column):
    root, out = str(tmp_path / "in"), str(tmp_path / "out")
    n = gen.write_campaign(gen.campaign_text(4, 300), root)
    expected = os.path.join(root, "expected")
    _fake_engine_output(expected, out)
    assert checks.check_campaign(out, "bench", expected, n, n) == []
    _corrupt_one_row(os.path.join(out, "triples", "run_id=bench", "part_id=0",
                                  "part-0.parquet"), column)
    assert checks.check_campaign(out, "bench", expected, n, n) != []


def test_expected_triples_carry_every_engine_column():
    from biosd_feature_annotator_spark.operators.link import TRIPLE_COLS

    assert gen.TRIPLE_SCHEMA.names == TRIPLE_COLS
    corpus = gen.campaign_text(5, 400)
    units = {(t[1], t[6]) for t in corpus["extracted"]}
    assert {("hasNumber", "kilogram"), ("hasRange", "centimeter"), ("hasAge", "year"),
            ("hasDate", None)} <= units
    assert {t[4:6] for t in corpus["extracted"] if t[1] == "hasOrganism"} == {
        (1.0, "HIGH"), (0.9, "GOOD")}


def _squeezed(fn) -> str:
    return "".join(inspect.getsource(fn).split())


def test_staged_campaign_is_wired_like_the_pipeline():
    """The traced run re-wires the campaign layer by layer; if the engine's
    wiring changes, the staged copy must change with it."""
    import layers
    from biosd_feature_annotator_spark.plans import materialize, pipeline

    staged = _squeezed(layers.staged_campaign)
    shared = {
        pipeline.annotate: [
            "sparkContext.defaultParallelism*2",
            'F.col("conv_id")',
            "notlex.is_functional()",
            "best_link(linked)",
            '.dropDuplicates(["subj","pred","obj"])',
            "unionByName(structural_triples(src)).select(*TRIPLE_COLS)",
            "canonicalize(linked,fixed_rounds=1ifnotranked_linkingelseNone)",
        ],
        materialize.run_annotate: [
            'spark.conf.set("spark.sql.sources.partitionOverwriteMode","dynamic")',
            '.repartition("part_id").write.partitionBy("part_id").mode("overwrite")',
            'fingerprint(written,["subj","pred","obj","confidence"])',
            'fingerprint(src,["conv_id","turn_idx","text"])',
        ],
    }
    for fn, fragments in shared.items():
        engine = _squeezed(fn)
        for frag in fragments:
            assert frag in engine, f"{fn.__name__} no longer has {frag}"
            assert frag in staged, f"staged_campaign lacks {frag}"
    n_parts = inspect.signature(materialize.run_annotate).parameters["n_parts"].default
    assert layers.N_PARTS == n_parts


def test_duplicated_row_fails_the_stream(tmp_path):
    root, out = str(tmp_path / "in"), str(tmp_path / "out")
    gen.write_stream(gen.campaign_text(2, 300), root, 3)
    expected = os.path.join(root, "expected")
    os.makedirs(out)
    t = pq.read_table(os.path.join(expected, "extracted.parquet"))
    pq.write_table(t, os.path.join(out, "a.parquet"))
    assert checks.check_stream(out, expected) == []
    pq.write_table(t.slice(0, 1), os.path.join(out, "b.parquet"))
    assert checks.check_stream(out, expected) != []


def test_query_check_compares_rows_schema_and_values():
    a = pd.DataFrame({"k": ["x", "y"], "n": [1, 2]})
    assert checks.check_query("q", a, a.iloc[::-1].reset_index(drop=True)) == []
    assert checks.check_query("q", a, a.iloc[:1]) != []
    assert checks.check_query("q", a, a.rename(columns={"n": "m"})) != []
    assert checks.check_query("q", a, a.assign(n=[1, 3])) != []


def test_eventlog_fold_gives_per_group_table():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "extract"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "link"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3],
         "Properties": {}},
    ]

    def task(stage, ms, cpu_ns, gc_ms, acc=(), shuffle=(0, 0, 0), spill=0):
        return {
            "Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": 1000, "Finish Time": 1000 + ms,
                          "Accumulables": [{"Name": n, "Update": str(v)} for n, v in acc]},
            "Task Metrics": {
                "Executor CPU Time": cpu_ns, "JVM GC Time": gc_ms,
                "Disk Bytes Spilled": spill,
                "Shuffle Read Metrics": {"Local Bytes Read": shuffle[0],
                                         "Remote Bytes Read": shuffle[1]},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle[2]},
                "Input Metrics": {"Bytes Read": 10},
                "Output Metrics": {"Bytes Written": 0, "Records Written": 0},
            },
        }

    py = (("time to run Python workers", 800), ("time to start Python workers", 100),
          ("data sent to Python workers", 4096), ("number of output rows", 7))
    events += [
        task(0, 1000, 500_000_000, 20, acc=py),
        task(0, 3000, 1_500_000_000, 40, acc=py, spill=64),
        task(1, 2000, 1_000_000_000, 0, shuffle=(100, 50, 0)),
        task(2, 500, 250_000_000, 5, shuffle=(0, 0, 300)),
        task(3, 100, 1, 0),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
    ]
    table = fold(json.dumps(e) for e in events)
    assert set(table) == {"extract", "link", ""}
    ext = table["extract"]
    assert ext["tasks"] == 3
    assert ext["gc_s"] == pytest.approx(0.06)
    assert ext["python_s"] == pytest.approx(1.6)
    assert ext["python_boot_s"] == pytest.approx(0.2)
    assert ext["arrow_sent_bytes"] == 8192
    assert ext["spill_bytes"] == 64
    assert ext["shuffle_read_bytes"] == 150
    assert ext["task_skew"] == pytest.approx(1.5)  # 3000 ms over the 2000 ms median
    link = table["link"]
    assert (link["tasks"], link["shuffle_write_bytes"], link["task_skew"]) == (1, 300, 1.0)
    assert table[""]["tasks"] == 1


def test_tail_percentile_needs_ten_samples_above():
    assert tail_percentile(19) is None
    assert tail_percentile(20) == 50
    assert tail_percentile(40) == 75
    assert tail_percentile(100) == 90
    assert tail_percentile(1000) == 99


def test_benchmark_json_matches_what_a_run_reports():
    import layers
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    op = dict(wall_s=2.0, cpu_s=5.0, peak_rss=2**30, turns=1000, triples=1500, out_bytes=9000)
    reported = run.end_to_end([op], setup_s=3.0)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == [
        (k, u) for k, (_, u) in reported.items()]
    assert all(v > 0 for v, _ in reported.values())
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == [
        (n, layers.unit_of(n)) for n in layers.per_layer_names()]
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
