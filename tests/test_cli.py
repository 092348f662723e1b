"""The campaign CLI (jobs/annotate.py), run the way a user runs it: in a
process of its own, with its own Spark session."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow.parquet as pq

CLI = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "jobs", "annotate.py")


def _cli(*args: str) -> str:
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="2g")
    p = subprocess.run([sys.executable, CLI, *args], capture_output=True,
                       text=True, env=env, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    return p.stdout


def _report(stdout: str) -> dict:
    lines = stdout.strip().splitlines()
    assert len(lines) == 1, lines
    return json.loads(lines[0])


def _table(path: str) -> list[str]:
    return sorted(json.dumps(r, sort_keys=True, default=str)
                  for r in pq.read_table(path).to_pylist())


def test_cli_run_resume_purge(tmp_path):
    out = str(tmp_path / "graph")
    args = ["--synth-turns", "2000", "--n-parts", "4", "--out", out,
            "--run-id", "t", "--master", "local[2]"]
    graph = [os.path.join(out, name, "run_id=t") for name in ("nodes", "edges")]

    first = _report(_cli(*args))
    assert first["run_id"] == "t" and first["n_turns"] > 0 and first["n_triples"] > 0
    written = [_table(p) for p in graph]
    assert all(written)

    again = _report(_cli(*args, "--resume"))
    assert again["n_turns"] == 0 and again["n_triples"] == 0
    assert [_table(p) for p in graph] == written

    assert _report(_cli(*args, "--purge")) == {"purged": "t"}
    for name in ("triples", "nodes", "edges"):
        assert not os.path.exists(os.path.join(out, name, "run_id=t"))
    assert pq.read_table(os.path.join(out, "manifests")).num_rows == 0


def test_cli_help_lists_no_extraction_backend():
    usage = _cli("--help")
    assert "--synth-turns" in usage and "--extraction" not in usage
