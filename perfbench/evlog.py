"""Read an uncompressed, non-rolling Spark event log into per-job-group totals.

Every traced span sets its own ``spark.jobGroup.id`` (see ``trace.py``), so a
job, its stages and their tasks are attributed to the innermost span that
launched them. Only the event types needed for the per-layer ledger are read.
"""

from __future__ import annotations

import json
from collections import defaultdict

GROUP = "spark.jobGroup.id"
MB = 1 << 20


def _group_totals() -> dict:
    return {
        "jobs": 0, "tasks": 0, "executor_cpu_s": 0.0, "gc_s": 0.0,
        "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
        "output_mb": 0.0,
    }


def read_event_log(path: str) -> tuple[dict[str, dict], list[tuple[float, float]]]:
    """Return ({job group: totals}, [(start_s, end_s) of every job]).

    Job intervals are in epoch seconds so they line up with span clocks.
    """
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(_group_totals)
    job_start: dict[int, float] = {}
    intervals: list[tuple[float, float]] = []
    with open(path, encoding="utf-8", errors="replace") as f:
        for line in f:
            try:
                e = json.loads(line)
            except json.JSONDecodeError:
                continue  # a truncated last line of a log still being written
            ev = e.get("Event")
            if ev == "SparkListenerJobStart":
                job_start[e["Job ID"]] = e["Submission Time"] / 1e3
                group = (e.get("Properties") or {}).get(GROUP)
                if group:
                    groups[group]["jobs"] += 1
                    for sid in e.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
            elif ev == "SparkListenerJobEnd":
                start = job_start.pop(e["Job ID"], None)
                if start is not None:
                    intervals.append((start, e["Completion Time"] / 1e3))
            elif ev == "SparkListenerStageSubmitted":
                group = (e.get("Properties") or {}).get(GROUP)
                if group:
                    stage_group[e["Stage Info"]["Stage ID"]] = group
            elif ev == "SparkListenerTaskEnd":
                group = stage_group.get(e.get("Stage ID"))
                m = e.get("Task Metrics")
                if group is None or not m:
                    continue
                g = groups[group]
                g["tasks"] += 1
                g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sr = m.get("Shuffle Read Metrics") or {}
                g["shuffle_read_mb"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                ) / MB
                sw = m.get("Shuffle Write Metrics") or {}
                g["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
                g["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
                out = m.get("Output Metrics") or {}
                g["output_mb"] += out.get("Bytes Written", 0) / MB
    return dict(groups), sorted(intervals)


def covered(lo: float, hi: float, intervals: list[tuple[float, float]]) -> float:
    """Seconds of [lo, hi] covered by the union of ``intervals`` (sorted)."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in intervals:
        a, b = max(a, lo), min(b, hi)
        if a >= b:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
