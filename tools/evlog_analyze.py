#!/usr/bin/env python
"""Analyze a Spark event log for scaling diagnostics: per-job wall time,
driver-side gaps between jobs (time no job is running = non-scaling serial
time), and per-stage core utilization (sum of task run time / (wall x
slots)). Used to locate the non-scaling component that caps N->4N scaling
efficiency in the retention pipeline.

Reads a plain JSON-lines log, a ``.zstd``-compressed one, or Spark 4's
default rolling ``eventlog_v2_*`` directory of ``events_<N>_*`` files."""

from __future__ import annotations

import io
import json
import os
import sys
from collections import defaultdict

import pyarrow as pa


def read_events(path: str):
    """Yield the events of a log file or of a rolling log directory (its
    ``events_<N>_*`` files in index order)."""
    paths = [path]
    if os.path.isdir(path):
        names = [f for f in os.listdir(path) if f.startswith("events_")]
        names.sort(key=lambda f: int(f.split("_")[1]))
        paths = [os.path.join(path, f) for f in names]
    for p in paths:
        raw = pa.input_stream(p, compression="zstd" if p.endswith(".zstd") else None)
        with io.TextIOWrapper(raw, encoding="utf-8", errors="replace") as f:
            for line in f:
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:
                    continue  # a truncated last line of a log still being written


def main(path: str, slots: int = 8) -> dict:
    """Print the report; return the job count and job/gap second totals."""
    jobs = {}            # id -> [t_sub, t_done, desc]
    stage_task_ms = defaultdict(float)
    stage_name = {}
    stage_wall = {}      # sid -> [min launch, max finish]
    stage_ntasks = defaultdict(int)
    for e in read_events(path):
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            jobs[e["Job ID"]] = [
                e["Submission Time"], None,
                (e.get("Properties") or {}).get(
                    "spark.job.description", "")[:90],
            ]
        elif ev == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]][1] = e["Completion Time"]
        elif ev == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            info = e.get("Task Info", {})
            stage_task_ms[sid] += info.get("Finish Time", 0) - info.get(
                "Launch Time", 0)
            stage_ntasks[sid] += 1
            w = stage_wall.setdefault(sid, [1 << 60, 0])
            w[0] = min(w[0], info.get("Launch Time", 1 << 60))
            w[1] = max(w[1], info.get("Finish Time", 0))
        elif ev == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            stage_name[si["Stage ID"]] = si.get("Stage Name", "")[:70]

    done = sorted(
        (v for v in jobs.values() if v[1]), key=lambda v: v[0])
    if not done:
        print("no completed jobs")
        return {"jobs": 0, "job_s": 0.0, "gap_s": 0.0}
    t0 = done[0][0]
    prev_end = None
    total_gap = total_job = 0.0
    print("== jobs (t_start  wall_s  gap_before_s  desc) ==")
    for sub, end, desc in done:
        gap = (sub - prev_end) / 1e3 if prev_end is not None else 0.0
        if gap > 0:
            total_gap += gap
        total_job += (end - sub) / 1e3
        flag = " <== GAP" if gap > 0.5 else ""
        print(f"{(sub - t0)/1e3:9.2f} {(end - sub)/1e3:8.2f} {gap:8.2f}"
              f"  {desc}{flag}")
        prev_end = max(prev_end or 0, end)
    span = (done[-1][1] - t0) / 1e3
    print(f"\nspan={span:.1f}s  sum(job wall)={total_job:.1f}s  "
          f"sum(gaps)={total_gap:.1f}s  ({100*total_gap/span:.1f}% idle "
          "between jobs = driver serial)")

    print(f"\n== stages by task-time (util = task_ms / (wall*{slots})) ==")
    rows = sorted(stage_task_ms.items(), key=lambda kv: -kv[1])[:25]
    for sid, tms in rows:
        w = stage_wall.get(sid)
        wall = (w[1] - w[0]) / 1e3 if w else 0
        util = tms / 1e3 / (wall * slots) if wall else 0
        print(f"stage {sid:4d} tasks={stage_ntasks[sid]:4d} "
              f"task_sum={tms/1e3:8.1f}s wall={wall:7.1f}s util={util:4.2f} "
              f" {stage_name.get(sid, '')}")
    return {"jobs": len(done), "job_s": total_job, "gap_s": total_gap}


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]) if len(sys.argv) > 2 else 8)
