"""Spark event-log reader: per-job-group sums of task metrics.

Spark writes the log of an application with ``spark.eventLog.enabled``
as a rolling directory ``eventlog_v2_<app>/events_<n>_<app>`` of JSON
lines (uncompressed when ``spark.eventLog.compress=false``). Jobs carry
the ``spark.jobGroup.id`` that the driver thread set when it submitted
them, so every task can be attributed to the benchmark span that ran it.

Sums come from ``SparkListenerTaskEnd`` events (one per finished task)
rather than from the stage-level totals, so a stage that AQE plans
twice or a SQL metric shared by two stages is never counted twice.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
from dataclasses import dataclass, field

# SQL metrics of the Arrow/pandas evaluation nodes, summed per task
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_RUN_MS = "time to run Python workers"


@dataclass
class GroupStats:
    """Task-level totals of one job group."""

    jobs: int = 0
    tasks: int = 0
    task_ms: int = 0                   # sum of (finish - launch)
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    disk_spill_bytes: int = 0
    memory_spill_bytes: int = 0
    py_sent_bytes: int = 0
    py_returned_bytes: int = 0
    py_run_ms: int = 0
    # stage id -> task durations (ms), for the skew of the dominant stage
    stage_task_ms: dict = field(default_factory=dict)

    def task_skew(self) -> float:
        """max / median task time of the stage with the most task time
        (the stage that sets the span's wall); 1.0 when no stage ran."""
        if not self.stage_task_ms:
            return 1.0
        durs = max(self.stage_task_ms.values(), key=sum)
        med = statistics.median(durs)
        return max(durs) / med if med > 0 else 1.0


def event_files(log_dir: str) -> list[str]:
    """Event files of every application under ``log_dir``, in roll order."""

    def roll_index(path: str) -> int:
        m = re.match(r"events_(\d+)_", os.path.basename(path))
        return int(m.group(1)) if m else 0

    files = []
    for app_dir in sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*"))):
        files += sorted(glob.glob(os.path.join(app_dir, "events_*")), key=roll_index)
    return files


def _update(acc: dict) -> int:
    value = acc.get("Update", 0)
    try:
        return int(value)
    except (TypeError, ValueError):
        return 0


def group_stats(log_dir: str) -> dict[str, GroupStats]:
    """job group id -> totals over every task of the group's jobs.

    Jobs submitted without a group are filed under ``""``.
    """
    stage_group: dict[int, str] = {}
    groups: dict[str, GroupStats] = {}
    for path in event_files(log_dir):
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    gid = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    groups.setdefault(gid, GroupStats()).jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        # a stage reused by a later job keeps its first owner
                        stage_group.setdefault(sid, gid)
                elif kind == "SparkListenerTaskEnd":
                    gid = stage_group.get(ev["Stage ID"], "")
                    _add_task(groups.setdefault(gid, GroupStats()), ev)
    return groups


def _add_task(g: GroupStats, ev: dict) -> None:
    info = ev.get("Task Info", {})
    g.tasks += 1
    dur = max(0, int(info.get("Finish Time", 0)) - int(info.get("Launch Time", 0)))
    g.task_ms += dur
    g.stage_task_ms.setdefault(ev["Stage ID"], []).append(dur)
    m = ev.get("Task Metrics") or {}
    g.shuffle_write_bytes += int(
        (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    )
    rd = m.get("Shuffle Read Metrics") or {}
    g.shuffle_read_bytes += int(rd.get("Remote Bytes Read", 0)) + int(
        rd.get("Local Bytes Read", 0)
    )
    g.disk_spill_bytes += int(m.get("Disk Bytes Spilled", 0))
    g.memory_spill_bytes += int(m.get("Memory Bytes Spilled", 0))
    for acc in info.get("Accumulables", []):
        name = acc.get("Name")
        if name == PY_SENT:
            g.py_sent_bytes += _update(acc)
        elif name == PY_RETURNED:
            g.py_returned_bytes += _update(acc)
        elif name == PY_RUN_MS:
            g.py_run_ms += _update(acc)
