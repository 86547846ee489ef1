"""Spans around calls into the engine's public functions, from outside it.

A span records its name, parent, start and end (epoch seconds) and a few
counts. While a span is open its job group tags every Spark job it launches,
so the event log (``evlog.py``) attributes jobs, tasks, CPU, GC, shuffle,
spill and output bytes to the innermost span. ``install`` wraps the engine
functions that the benchmark does not call itself; the benchmark opens the
outer spans (``Tracer.span``) around its own calls. With ``active`` false a
span costs one attribute check, so the wrappers stay installed for the
untraced half of a traced run.
"""

from __future__ import annotations

import functools
import os
import time
from contextlib import contextmanager

from perfbench import procs
from perfbench.evlog import GROUP, covered

DESC = "spark.job.description"
DATA_FIELDS = (
    "jobs", "tasks", "executor_cpu_s", "gc_s", "shuffle_read_mb",
    "shuffle_write_mb", "spill_mb", "output_mb",
)


class Tracer:
    def __init__(self, spark) -> None:
        """``Tracer(None)`` is an inert tracer for untraced calls."""
        self.sc = spark.sparkContext if spark is not None else None
        self.active = False
        self.spans: list[dict] = []
        self._open: list[dict] = []  # one client: a single stack suffices

    @contextmanager
    def span(self, name: str, python_cpu: bool = False):
        """Open a span; yields its ``counts`` dict for the caller to fill."""
        if not self.active:
            yield {}
            return
        rec = {
            "name": name,
            "uid": f"perfbench-{len(self.spans) + len(self._open)}-{name}",
            "parent": self._open[-1]["uid"] if self._open else None,
            "counts": {},
        }
        prev = (self.sc.getLocalProperty(GROUP), self.sc.getLocalProperty(DESC))
        self.sc.setLocalProperty(GROUP, rec["uid"])
        self.sc.setLocalProperty(DESC, name)
        py0 = procs.python_worker_cpu_s() if python_cpu else None
        self._open.append(rec)
        rec["start"] = time.time()
        try:
            yield rec["counts"]
        finally:
            rec["end"] = time.time()
            if py0 is not None:
                rec["counts"]["python_cpu_s"] = procs.python_worker_cpu_s() - py0
            self._open.remove(rec)
            self.sc.setLocalProperty(GROUP, prev[0])
            self.sc.setLocalProperty(DESC, prev[1])
            self.spans.append(rec)

    def ledger(self, groups: dict, job_intervals: list) -> dict[str, dict]:
        """Per span name: the mean per call of wall, self time, driver gap,
        the event-log totals of the span's subtree, and the span's counts."""
        children: dict[str, list] = {}
        for s in self.spans:
            children.setdefault(s["parent"], []).append(s)

        def subtree(s):
            yield s
            for c in children.get(s["uid"], []):
                yield from subtree(c)

        per_name: dict[str, list[dict]] = {}
        for s in self.spans:
            wall = s["end"] - s["start"]
            kids = sorted((c["start"], c["end"]) for c in children.get(s["uid"], []))
            row = {
                "wall_s": wall,
                "self_s": wall - covered(s["start"], s["end"], kids),
                "driver_gap_s": wall - covered(s["start"], s["end"], job_intervals),
            }
            for f in DATA_FIELDS:
                row[f] = sum(groups.get(d["uid"], {}).get(f, 0) for d in subtree(s))
            row.update(s["counts"])
            per_name.setdefault(s["name"], []).append(row)
        return {
            name: {k: sum(r.get(k, 0) for r in rows) / len(rows) for k in rows[0]}
            | {"calls": len(rows)}
            for name, rows in per_name.items()
        }


def _files_under(path: str) -> int:
    return sum(
        1 for _, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )


def install(tracer: Tracer) -> None:
    """Wrap the engine functions reached only from inside other engine calls.

    Patches module attributes in this process only; no engine file changes.
    """
    from tsprofiler_spark.plans import pipeline, retention, storage
    from tsprofiler_spark.streaming import ingest

    def spanned(name_of, fn, after=None):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with tracer.span(name_of(*a, **kw)) as counts:
                out = fn(*a, **kw)
                if tracer.active and after is not None:
                    after(counts, out, *a, **kw)
                return out
        return wrapper

    def merge_tiers_name(self, partials_by_tier, *a, **kw):
        return "plans.storage.merge_tiers." + (
            "1m" if "1m" in partials_by_tier else "coarse"
        )

    def merge_tiers_counts(counts, out, self, *a, **kw):
        lineage, pointers = out
        counts["rows_restaged"] = sum(p["rows"] for p in lineage)
        counts["files_written"] = sum(
            _files_under(self._day_dir(tier, day, ver))
            for tier, days in pointers.items()
            for day, ver in days.items()
        )

    def commit_counts(counts, out, self, *a, **kw):
        counts["manifest_bytes"] = os.path.getsize(self.manifest.path)

    batch = spanned(
        lambda *a, **kw: "plans.retention.merge_transcript_batch",
        retention.merge_transcript_batch,
    )
    retention.merge_transcript_batch = batch
    ingest.merge_transcript_batch = batch
    storage.RollupStore.merge_tiers = spanned(
        merge_tiers_name, storage.RollupStore.merge_tiers, merge_tiers_counts
    )
    storage.RollupStore.commit_run = spanned(
        lambda *a, **kw: "plans.storage.commit_run",
        storage.RollupStore.commit_run, commit_counts,
    )
    pipeline.auto_segment_turns = spanned(
        lambda *a, **kw: "plans.pipeline.auto_segment_turns",
        pipeline.auto_segment_turns,
    )
    ingest.process_microbatch = spanned(
        lambda *a, **kw: "streaming.ingest.process_microbatch",
        ingest.process_microbatch,
    )


def files_opened(store, tier: str) -> int:
    """Parquet files behind a tier's committed pointers (what read_tier opens)."""
    return sum(
        _files_under(store._day_dir(tier, day, ver))
        for day, ver in (store.manifest.tiers.get(tier) or {}).items()
    )
