"""Fold a Spark event log into per-job-group task metrics.

Jobs carry their group in ``Properties["spark.jobGroup.id"]`` (set with
``SparkContext.setJobGroup``); every stage of a job belongs to that
group, and every ``SparkListenerTaskEnd`` is charged to its stage's
group. The log must be uncompressed JSON lines
(``spark.eventLog.compress=false``).
"""

from __future__ import annotations

import json
from collections.abc import Iterable

_MB = 2**20


def _group() -> dict:
    return {
        "tasks": 0,
        "executor_cpu_s": 0.0,
        "gc_s": 0.0,
        "shuffle_read_mb": 0.0,
        "shuffle_write_mb": 0.0,
        "spill_mb": 0.0,
        "peak_exec_mem_mb": 0.0,
        "jobs": [],  # (submitted, completed) epoch seconds
    }


def fold(lines: Iterable[str]) -> dict[str | None, dict]:
    """group id (None for untagged jobs) -> summed task metrics and job spans."""
    groups: dict[str | None, dict] = {}
    stage_group: dict[int, str | None] = {}
    job_start: dict[int, tuple[str | None, float]] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            for sid in ev.get("Stage IDs", ()):
                stage_group[sid] = gid
            job_start[ev["Job ID"]] = (gid, ev["Submission Time"] / 1e3)
        elif kind == "SparkListenerJobEnd":
            gid, t0 = job_start.pop(ev["Job ID"], (None, None))
            if t0 is not None:
                g = groups.setdefault(gid, _group())
                g["jobs"].append((t0, ev["Completion Time"] / 1e3))
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            g = groups.setdefault(stage_group.get(ev.get("Stage ID")), _group())
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            g["tasks"] += 1
            g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            g["shuffle_read_mb"] += (
                rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            ) / _MB
            g["shuffle_write_mb"] += wr.get("Shuffle Bytes Written", 0) / _MB
            g["spill_mb"] += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            ) / _MB
            g["peak_exec_mem_mb"] = max(
                g["peak_exec_mem_mb"], m.get("Peak Execution Memory", 0) / _MB
            )
    return groups


def union_s(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total
