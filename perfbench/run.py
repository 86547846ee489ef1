#!/usr/bin/env python3
"""Benchmark of the tsprofiler_spark retention engine, one workload per run.

Run from the repository root:

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 15 --trace 0

``--trace 0`` prints the end-to-end metrics named in BENCHMARK.json;
``--trace 1`` prints the per-layer metrics of a traced run instead. The last
line of standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the lines before it name every
metric with its unit and direction, plus the host facts. Work files go to
``.perfbench/<workload>/`` under the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAX_TIMED_S = 100.0  # a run never measures longer than this
SPANS = (
    "plans.retention.incremental_run",
    "plans.retention.merge_transcript_batch",
    "plans.storage.merge_tiers.1m",
    "plans.storage.merge_tiers.coarse",
    "plans.storage.commit_run",
    "plans.storage.read_tier",
    "streaming.ingest.start_rollup_stream",
    "streaming.ingest.process_microbatch",
    "plans.pipeline.auto_segment_turns",
    "plans.pipeline.run_profile",
    "profile.write",
    "operators.compress.encode",
    "operators.compress.decode",
)
DETAIL_UNITS = (  # (name suffix, (unit, better)) of the detail figures; first match
    ("_per_s", ("1/s", "higher")),
    ("bits_per_point", ("bits", "lower")),
    ("_mb", ("MB", "lower")),
    ("_share", ("share", "lower")),
    ("_s", ("s", "lower")),
)


def _args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("backfill", "stream_late"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _ram_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / (1 << 20)
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _start_spark(work: str, event_log: str | None):
    """Session sized from the host, not from the package defaults."""
    from tsprofiler_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    heap_gb = max(1, min(8, int(_ram_gb() // 4)))
    os.environ["SPARK_DRIVER_MEM"] = f"{heap_gb}g"
    # every JVM (the spark-submit launcher too): temp files inside the
    # checkout and no hsperfdata file, so nothing is written outside it
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.ui.showConsoleProgress": "false",
        # C1 only: a run's JVM lives about a minute and never reaches C2
        # steady state, and C2 compiler threads competing with the task
        # threads for the cores made warm-up longer and runs less repeatable.
        # No code-cache flushing: the sweeper evicted compiled methods and
        # their recompilation made every second backfill cycle ~40% dearer.
        "spark.driver.extraJavaOptions": (
            "-XX:TieredStopAtLevel=1 -XX:-UseCodeCacheFlushing "
            "-XX:ReservedCodeCacheSize=256m"
        ),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(
        app_name="perfbench", cores=cores, extra_conf=conf,
        warehouse=os.path.join(work, "warehouse"),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _host(spark) -> dict:
    import pyarrow

    jvm = spark.sparkContext._jvm
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(_ram_gb(), 1),
        "spark": spark.version,
        "pyarrow": pyarrow.__version__,
        "java": jvm.System.getProperty("java.version"),
        "driver_heap": spark.conf.get("spark.driver.memory"),
        "max_heap_mb": jvm.Runtime.getRuntime().maxMemory() // (1 << 20),
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "master": spark.sparkContext.master,
    }


def _shutdown(spark) -> None:
    """Stop Spark, then end the driver JVM and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _per_layer(tracer, event_log_dir: str, cycles: list[dict]) -> dict:
    from perfbench.evlog import read_event_log

    (log,) = [os.path.join(event_log_dir, f) for f in os.listdir(event_log_dir)]
    groups, jobs = read_event_log(log)
    ledger = tracer.ledger(groups, jobs)
    out = {}
    for name in SPANS:
        row = ledger.get(name, {})
        for field in ("wall_s", "self_s", "driver_gap_s", "jobs", "tasks",
                      "executor_cpu_s", "gc_s", "shuffle_read_mb",
                      "shuffle_write_mb", "spill_mb", "output_mb", "python_cpu_s",
                      "files_written", "rows_restaged", "manifest_bytes",
                      "files_opened", "bits_per_point"):
            out[f"{name}.{field}"] = row.get(field, 0.0)
    traced = [c for c in cycles if c["traced"]]
    plain = [c for c in cycles if not c["traced"]]
    restaged = sum(
        s["counts"].get("rows_restaged", 0) for s in tracer.spans
        if s["name"].startswith("plans.storage.merge_tiers")
    )
    out["plans.storage.rows_restaged_per_input_row"] = restaged / max(
        1, sum(c["turns"] for c in traced)
    )
    out["streaming.trigger_overhead_s"] = statistics.mean(
        [b["trigger_s"] - b["add_batch_s"] for c in traced for b in c.get("batches", [])]
        or [0.0]
    )
    timed = sum(c["wall_s"] for c in traced)
    top = sum(s["end"] - s["start"] for s in tracer.spans if s["parent"] is None)
    out["trace.span_coverage"] = top / timed if timed else 0.0
    # on the gated metric: CPU seconds per cycle
    p_traced = statistics.median(c["cpu_s"] for c in traced)
    p_plain = statistics.median(c["cpu_s"] for c in plain)
    out["trace.overhead_s"] = p_traced - p_plain
    out["trace.overhead_share"] = (p_traced - p_plain) / p_plain
    return out


def main() -> int:
    args = _args()
    sys.path.insert(0, ROOT)
    # Python workers import the engine too; they start from the JVM's env
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tsprofiler_spark  # noqa: F401  (fails loudly outside a checkout)

    from perfbench import procs
    from perfbench.trace import Tracer, install
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    work = os.path.join(ROOT, ".perfbench", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    event_log = os.path.join(work, "eventlog") if args.trace else None

    wl = WORKLOADS[args.workload](args.seed, work)
    t0 = time.perf_counter()
    spark = _start_spark(work, event_log)
    wl.setup(spark)
    setup_s = time.perf_counter() - t0

    tracer = Tracer(spark)
    if args.trace:
        install(tracer)
    cycles: list[dict] = []
    meter = procs.Meter()
    t0 = time.perf_counter()
    while True:
        # a traced run alternates untraced and traced cycles, so the
        # tracing overhead is measured under the same host conditions
        tracer.active = bool(args.trace) and len(cycles) % 2 == 1
        cpu0 = meter.cpu_s
        rec = wl.cycle(spark, tracer, meter)
        if rec is None:
            break
        rec["traced"] = tracer.active
        rec["cpu_s"] = meter.cpu_s - cpu0
        cycles.append(rec)
        elapsed = time.perf_counter() - t0
        enough = len(cycles) >= (2 if args.trace else 1)
        if enough and (elapsed >= args.seconds or elapsed >= MAX_TIMED_S):
            break
    tracer.active = False
    meter.close()
    oks = [ok for c in cycles for ok in c["ok"]]
    if not wl.final_check():
        oks = [False] * len(oks)
    host = _host(spark) | {"seed": args.seed, "inputs": wl.inputs}
    _shutdown(spark)

    primary = [p for c in cycles for p in c["primary"]]
    if args.trace:
        values = _per_layer(tracer, event_log, cycles)
    else:
        values = {
            "setup_s": setup_s,
            "cpu_s_per_cycle": statistics.median(c["cpu_s"] for c in cycles),
        }
    detail = wl.detail() | {
        "failed_op_share": oks.count(False) / len(oks),
        "peak_rss_mb": meter.peak_mb,
        "op_p50_s": statistics.median(primary),
        "cycles": len(cycles),
        "primary_s": primary,
        "cycle_cpu_s": [c["cpu_s"] for c in cycles],
        "ops": len(oks),
    }
    print(json.dumps({"host": host}))
    print(json.dumps({"detail": detail}))
    for name, value in detail.items():
        unit = next((u for suffix, u in DETAIL_UNITS if name.endswith(suffix)), None)
        if unit and isinstance(value, (int, float)):
            print(f"{name} = {value:.6g} {unit[0]} ({unit[1]} is better; not gated)")
    for m in wanted:
        print(f"{m['name']} = {values[m['name']]:.6g} {m['unit']} "
              f"({m['better']} is better)")
    print(json.dumps({
        "correct": all(oks),
        "attempted": len(oks),
        "failed": oks.count(False),
        "metrics": {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
