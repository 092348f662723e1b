"""Crash-safe directory swap: the one way the engine replaces a directory
in place (incremental stream state, compaction, the manifest rewrite).

A writer builds the new generation in ``tmp_of(path)`` and commits it
with ``swap_in``: rename ``path → path.bak``, rename ``tmp → path``,
delete ``.bak``. There is no moment at which the data exists nowhere: a
crash between the two renames leaves the old generation whole in
``.bak``, and a crash after them leaves a stale ``.bak`` next to the new
one. ``recover(path)`` repairs either state — it rolls a stranded
``.bak`` back or deletes a stale one — and drops a half-written ``.tmp``.
Every reader and writer of a swapped directory calls it first, so a
crash costs at most the uncommitted generation, never the data.
"""

from __future__ import annotations

import os
import shutil


def tmp_of(path: str) -> str:
    return path.rstrip("/") + ".tmp"


def recover(path: str) -> None:
    """Make ``path`` whole again after a swap that was cut short."""
    path = path.rstrip("/")
    bak = path + ".bak"
    if os.path.isdir(bak):
        if os.path.isdir(path):
            shutil.rmtree(bak)  # crash after commit, before cleanup
        else:
            os.rename(bak, path)  # crash mid-swap: roll back
    shutil.rmtree(tmp_of(path), ignore_errors=True)


def swap_in(tmp: str, path: str) -> None:
    """Commit ``tmp`` as ``path``; call ``recover(path)`` before writing ``tmp``."""
    path = path.rstrip("/")
    bak = path + ".bak"
    if os.path.isdir(path):
        os.rename(path, bak)
    os.rename(tmp, path)
    shutil.rmtree(bak, ignore_errors=True)
