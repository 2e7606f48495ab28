"""Spark event-log reader for the traced run.

Reads an uncompressed, non-rolling event log (the traced session sets
``spark.eventLog.compress=false`` and ``spark.eventLog.rolling.enabled=false``)
and sums task metrics per job group.  A stage counts toward the first job
that lists it, which is the job its tasks ran under; a later job that
re-lists the stage finds it skipped and runs no tasks for it.

Python worker time and bytes come from the SQL accumulables that the
ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas operators publish on
every task: ``time to run Python workers`` and ``time to start Python
workers`` (milliseconds) and ``data sent to Python workers`` (bytes).
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

PY_RUN = "time to run Python workers"
PY_START = "time to start Python workers"
PY_SENT = "data sent to Python workers"


@dataclass
class GroupStats:
    """Task metrics summed over every job of one job group."""

    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    executor_run_ms: int = 0
    executor_cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    python_run_ms: int = 0
    python_start_ms: int = 0
    python_sent_bytes: int = 0
    job_intervals: list = field(default_factory=list)  # (submit_ms, end_ms)
    stage_task_ms: dict = field(default_factory=dict)  # stage -> [task wall ms]


@dataclass
class EventLog:
    groups: dict  # group id (None for jobs outside any group) -> GroupStats

    def select(self, pred) -> list[GroupStats]:
        return [g for gid, g in self.groups.items() if gid is not None and pred(gid)]


def _acc_update(acc: dict) -> int:
    try:
        return int(acc.get("Update", 0))
    except (TypeError, ValueError):
        return 0


def parse_lines(lines) -> EventLog:
    """Event-log JSON lines -> per-job-group task metric sums."""
    stage_job: dict[int, int] = {}
    job_group: dict[int, str | None] = {}
    job_submit: dict[int, int] = {}
    groups: dict[str | None, GroupStats] = defaultdict(GroupStats)
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            job_group[jid] = gid
            job_submit[jid] = ev.get("Submission Time", 0)
            groups[gid].jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_group:
                groups[job_group[jid]].job_intervals.append(
                    (job_submit[jid], ev.get("Completion Time", job_submit[jid]))
                )
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev.get("Stage ID"))
            g = groups[job_group.get(jid)]
            info = ev.get("Task Info", {})
            m = ev.get("Task Metrics") or {}
            g.tasks += 1
            if info.get("Failed") or info.get("Killed"):
                g.failed_tasks += 1
            g.executor_run_ms += m.get("Executor Run Time", 0)
            g.executor_cpu_ns += m.get("Executor CPU Time", 0)
            g.gc_ms += m.get("JVM GC Time", 0)
            g.spill_bytes += m.get("Disk Bytes Spilled", 0) + m.get("Memory Bytes Spilled", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            g.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            g.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            for acc in info.get("Accumulables", []):
                name = acc.get("Name")
                if name == PY_RUN:
                    g.python_run_ms += _acc_update(acc)
                elif name == PY_START:
                    g.python_start_ms += _acc_update(acc)
                elif name == PY_SENT:
                    g.python_sent_bytes += _acc_update(acc)
            wall = info.get("Finish Time", 0) - info.get("Launch Time", 0)
            g.stage_task_ms.setdefault(ev.get("Stage ID"), []).append(wall)
    return EventLog(dict(groups))


def parse_file(path: str) -> EventLog:
    with open(path, encoding="utf-8") as f:
        return parse_lines(f)


def task_skew(stage_task_ms: dict) -> float:
    """max / median task wall time of the stage with the longest task sum
    (0 when no stage ran)."""
    if not stage_task_ms:
        return 0.0
    walls = max(stage_task_ms.values(), key=sum)
    med = statistics.median(walls)
    return max(walls) / med if med > 0 else 1.0


def merge(stats: list[GroupStats]) -> GroupStats:
    """Sum several groups (e.g. every span group of one rep)."""
    out = GroupStats()
    for g in stats:
        for k in (
            "jobs", "tasks", "failed_tasks", "executor_run_ms", "executor_cpu_ns",
            "gc_ms", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
            "python_run_ms", "python_start_ms", "python_sent_bytes",
        ):
            setattr(out, k, getattr(out, k) + getattr(g, k))
        out.job_intervals.extend(g.job_intervals)
        for sid, walls in g.stage_task_ms.items():
            out.stage_task_ms.setdefault(sid, []).extend(walls)
    return out
