"""Fold a Spark event log into one row of task metrics per job group.

The traced run turns on ``spark.eventLog.enabled`` (uncompressed, not
rolled) and wraps each layer's public call in
``SparkContext.setJobGroup(<layer>, ...)``. Every ``SparkListenerJobStart``
carries the group in its properties and lists its stage ids; every
``SparkListenerTaskEnd`` names its stage. Folding the task ends by
stage -> job -> group gives the per-layer table without the Spark UI.

The pandas-UDF SQL metrics (``pythonTotalTime``, ``pythonBootTime``,
``pythonDataSent``) arrive as task accumulables under
their display names; the timings are in milliseconds.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict

# display name of a task accumulable -> (column, scale to the column unit)
_ACCUMULABLES = {
    "time to run Python workers": ("python_s", 1e-3),
    "time to start Python workers": ("python_boot_s", 1e-3),
    "data sent to Python workers": ("arrow_sent_bytes", 1),
}

COLUMNS = (
    "tasks", "gc_s", "spill_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
    "task_skew", *(col for col, _ in _ACCUMULABLES.values()),
)


def _empty() -> dict:
    row = {c: 0 for c in COLUMNS}
    row["_task_ms"] = []
    return row


def fold(lines) -> dict[str, dict]:
    """Event-log lines (JSON strings) -> {job group: metrics}.

    ``task_skew`` is the largest task duration over the median one among
    the group's tasks (1.0 for a single task). Tasks of jobs started
    outside any group fold under the empty-string key."""
    stage_group: dict[int, str] = {}
    rows: dict[str, dict] = defaultdict(_empty)
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            for sid in ev.get("Stage IDs", ()):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            row = rows[stage_group.get(ev["Stage ID"], "")]
            info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
            row["tasks"] += 1
            ms = info["Finish Time"] - info["Launch Time"]
            row["_task_ms"].append(ms)
            row["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            row["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            row["shuffle_read_bytes"] += sr.get("Local Bytes Read", 0) + sr.get(
                "Remote Bytes Read", 0)
            sw = tm.get("Shuffle Write Metrics") or {}
            row["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            for acc in info.get("Accumulables", ()):
                hit = _ACCUMULABLES.get(acc.get("Name"))
                if hit and acc.get("Update") is not None:
                    row[hit[0]] += int(acc["Update"]) * hit[1]
    table = {}
    for group, row in rows.items():
        durations = row.pop("_task_ms")
        if durations:
            med = statistics.median(durations)
            row["task_skew"] = max(durations) / med if med > 0 else 1.0
        table[group] = row
    return table


def fold_file(path: str) -> dict[str, dict]:
    with open(path) as f:
        return fold(f)
