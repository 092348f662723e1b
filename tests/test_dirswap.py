"""dirswap.recover repairs each state a cut-short swap can leave behind,
and dirswap is the only module that renames."""

from __future__ import annotations

import ast
import os

import biosd_feature_annotator_spark
from biosd_feature_annotator_spark import dirswap


def _gen(path, tag):
    os.makedirs(path)
    with open(os.path.join(path, "part-0"), "w") as fh:
        fh.write(tag)


def _tag(path):
    with open(os.path.join(path, "part-0")) as fh:
        return fh.read()


def test_recover_rolls_back_a_stranded_bak(tmp_path):
    live = str(tmp_path / "state")
    _gen(live + ".bak", "old")  # crash between the two renames
    dirswap.recover(live)
    assert _tag(live) == "old"
    assert not os.path.exists(live + ".bak")


def test_recover_keeps_the_committed_generation_over_a_stale_bak(tmp_path):
    live = str(tmp_path / "state")
    _gen(live, "new")
    _gen(live + ".bak", "old")  # crash after commit, before cleanup
    dirswap.recover(live)
    assert _tag(live) == "new"
    assert not os.path.exists(live + ".bak")


def test_recover_drops_a_stale_tmp(tmp_path):
    live = str(tmp_path / "state")
    _gen(live, "live")
    _gen(dirswap.tmp_of(live), "half-written")
    dirswap.recover(live)
    assert _tag(live) == "live"
    assert not os.path.exists(dirswap.tmp_of(live))
    dirswap.recover(str(tmp_path / "absent"))  # nothing to repair: no-op
    assert not os.path.exists(str(tmp_path / "absent"))


def test_swap_in_replaces_the_live_directory(tmp_path):
    live = str(tmp_path / "state")
    _gen(live, "old")
    _gen(dirswap.tmp_of(live), "new")
    dirswap.swap_in(dirswap.tmp_of(live), live)
    assert _tag(live) == "new"
    assert sorted(os.listdir(tmp_path)) == ["state"]


def test_dirswap_is_the_only_module_that_renames():
    """Every in-place rename goes through dirswap's crash-safe protocol:
    no other package module calls os.rename, os.replace or shutil.move."""
    movers = {("os", "rename"), ("os", "replace"), ("shutil", "move")}
    pkg = os.path.dirname(biosd_feature_annotator_spark.__file__)
    callers = set()
    for dirpath, _, filenames in os.walk(pkg):
        for name in filenames:
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), path)
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and isinstance(node.func.value, ast.Name)
                    and (node.func.value.id, node.func.attr) in movers
                ):
                    callers.add(os.path.relpath(path, pkg))
    assert callers == {"dirswap.py"}
