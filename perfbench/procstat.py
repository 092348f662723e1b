"""CPU time and resident memory of a process tree, read from ``/proc``.

The engine's work is spread over this Python process, the JVM it launches
and the Python workers the JVM forks; all of them descend from
this process, so the tree rooted at ``os.getpid()`` is the system under
measurement.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name may hold spaces; the fields after it are fixed
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant of it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process's tree, including reaped
    children."""
    total = 0
    for pid in tree_pids(os.getpid()):
        st = _stat(pid)
        if st is not None:
            # utime stime cutime cstime: fields 14-17 of stat, 12-15 here
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def descendants_peak_rss_bytes() -> int:
    """Summed peak resident memory (VmHWM) of the live descendants of this
    process: the JVM and its Python workers. The kernel keeps each
    process's high-water mark, so no sampling is needed; a page shared by
    forked workers counts once per process."""
    root = os.getpid()
    total = 0
    for pid in tree_pids(root):
        if pid == root:
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
        except OSError:  # the process ended between listing and reading
            pass
    return total
