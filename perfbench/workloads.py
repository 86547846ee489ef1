"""The two workloads. Each is a closed loop with one client.

A workload object prepares its inputs from the seed (``setup``), then runs
timed cycles (``cycle``) until the caller's deadline. A cycle returns a
record: its wall time, the input turns it consumed, the wall times of its
primary operations, and one ``ok`` flag per attempted operation. Output
checks run between the timed blocks, outside the wall, the CPU and the RSS
the meter counts.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager, nullcontext

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench import checks
from perfbench.trace import Tracer, files_opened
from tsprofiler_spark.config import Settings
from tsprofiler_spark.operators.compress import (
    compress_points_colocated,
    decompress_points,
)
from tsprofiler_spark.plans.pipeline import run_profile
from tsprofiler_spark.plans.retention import incremental_run
from tsprofiler_spark.plans.storage import RollupStore
from tsprofiler_spark.sources.transcripts import synthesize_transcripts
from tsprofiler_spark.streaming import ingest

SETTINGS = Settings(
    buffer_size=10, states=10, history=1,
    fix_bound=True, fixed_min=0.0, fixed_max=128.0,
)
INERT = Tracer(None)


def _fresh(*paths: str) -> None:
    for p in paths:
        shutil.rmtree(p, ignore_errors=True)


def _failed(exc: BaseException) -> None:
    traceback.print_exception(exc, file=sys.stderr)


@contextmanager
def _timed(walls: dict, name: str):
    t0 = time.perf_counter()
    try:
        yield
    finally:
        walls[name] = time.perf_counter() - t0


def _write_day(spark, path: str, seed: int, n_convs: int, max_turns: int,
               gap_pct: int) -> None:
    synthesize_transcripts(
        spark, n_convs=n_convs, max_turns=max_turns, seed=seed,
        gap_pct=gap_pct, zipf=False,
    ).write.mode("overwrite").parquet(path)


class Backfill:
    """The bulk path over one synthetic day: an incremental_run into an
    empty store, a scan of the committed 1m tier, an encode and a decode of
    that tier, and the gap-filled profile of the same day."""

    N_CONVS, MAX_TURNS, GAP_PCT = 400, 120, 10
    STAGES = ("incr", "scan", "encode", "decode", "profile")

    def __init__(self, seed: int, work: str) -> None:
        self.seed, self.work = seed, work
        self.stats: dict[str, list] = {
            k: [] for k in ("rolled", "points", "bits_per_point", *self.STAGES)
        }
        self.hashes: set[str] = set()

    def setup(self, spark) -> None:
        raw = os.path.join(self.work, "input")
        _write_day(spark, raw, self.seed, self.N_CONVS, self.MAX_TURNS, self.GAP_PCT)
        self.raw_files = checks.parquet_files(raw)
        self.transcripts = spark.read.parquet(raw)
        self.series = checks.distinct_series(self.raw_files)
        self.inputs = {"turns": self.transcripts.count(), "series": self.series}
        # warm-up on the full day: a smaller one left C1 compiling ~4 CPU-s
        # of hot paths inside the first timed cycle
        self._cycle(spark, INERT, nullcontext(), "warm-")

    def cycle(self, spark, tracer, meter) -> dict:
        return self._cycle(spark, tracer, meter, "")

    def _cycle(self, spark, tracer, meter, prefix: str) -> dict:
        transcripts = self.transcripts
        store_dir, enc, dec, prof, chunks = (
            os.path.join(self.work, prefix + d)
            for d in ("store", "encoded", "decoded", "profile", "chunks")
        )
        _fresh(store_dir, enc, dec, prof, chunks)
        walls: dict[str, float] = {}
        ok = [False] * len(self.STAGES)
        try:
            store = RollupStore(spark, store_dir)
            with meter, _timed(walls, "incr"), tracer.span(
                "plans.retention.incremental_run"
            ):
                res = incremental_run(transcripts, store, SETTINGS)
            with meter, _timed(walls, "scan"), tracer.span(
                "plans.storage.read_tier"
            ) as scan_counts:
                scan_rows, scan_n = store.read_tier("1m").agg(
                    F.count(F.lit(1)), F.sum("n")
                ).collect()[0]
            if tracer.active:
                scan_counts["files_opened"] = files_opened(store, "1m")
            points = store.read_tier("1m").select(
                "conv_id", "tool", "role", "metric", F.lit("1m").alias("tier"),
                "bucket_start", (F.col("s1") / F.col("n")).alias("avg"),
            )
            with meter, _timed(walls, "encode"), tracer.span(
                "operators.compress.encode", python_cpu=True
            ) as enc_counts:
                compress_points_colocated(points).write.parquet(enc)
            with meter, _timed(walls, "decode"), tracer.span(
                "operators.compress.decode", python_cpu=True
            ):
                decompress_points(spark.read.parquet(enc)).write.parquet(dec)
            with meter, _timed(walls, "profile"):
                with tracer.span("plans.pipeline.run_profile"):
                    profile = run_profile(
                        transcripts, SETTINGS, do_gap_fill=True, chunk_stage_dir=chunks
                    )
                with tracer.span("profile.write"):
                    profile.write.parquet(prof)
            if prefix:
                return {}
            n_turns = self.inputs["turns"]
            ok[0] = not checks.tiers_match(store_dir, self.raw_files)
            ok[1] = scan_rows == checks.tier_rows(store_dir, "1m") and scan_n == n_turns
            ok[2] = ok[3] = checks.codec_matches(store_dir, dec)
            rows, digest = checks.table_hash(prof)
            self.hashes.add(digest)
            ok[4] = rows == self.series and len(self.hashes) == 1
            bits = checks.bits_per_point(enc)
            if tracer.active:
                enc_counts["bits_per_point"] = bits
            s = self.stats
            s["rolled"].append(sum(p["rows"] for p in res["partitions"]))
            s["points"].append(scan_rows)
            s["bits_per_point"].append(bits)
            for stage in self.STAGES:
                s[stage].append(walls[stage])
        except Exception as exc:  # a failed operation is counted, not fatal
            if prefix:
                raise
            _failed(exc)
        wall = sum(walls.values())
        return {"wall_s": wall, "turns": self.inputs["turns"], "primary": [wall], "ok": ok}

    def final_check(self) -> bool:
        return True  # every cycle's outputs are checked in the cycle

    def detail(self) -> dict:
        s = self.stats
        if not s["incr"]:
            return {}
        points, turns = sum(s["points"]), self.inputs["turns"] * len(s["incr"])
        return {
            "backfill_points_per_s": sum(s["rolled"]) / sum(s["incr"]),
            "scan_rows_per_s": points / sum(s["scan"]),
            "encode_points_per_s": points / sum(s["encode"]),
            "decode_points_per_s": points / sum(s["decode"]),
            "profile_rows_per_s": turns / sum(s["profile"]),
            "bits_per_point": statistics.median(s["bits_per_point"]),
            "rolled_points_per_cycle": s["rolled"][0],
            "profile_hashes": sorted(self.hashes),
        }


class StreamLate:
    """~1k-turn parquet drops, half on-time and half late, drained through
    the foreachBatch rollup stream into a copy of a committed day."""

    N_CONVS, BASE_TURNS, EXTRA_TURNS, BASE_GAP_PCT = 300, 200, 40, 20
    DROP_LATE = DROP_ON_TIME = 500

    def __init__(self, seed: int, work: str) -> None:
        self.seed, self.work = seed, work
        self.batches: list[dict] = []  # progress of every timed micro-batch
        self.fed: list[str] = []

    def setup(self, spark) -> None:
        base_dir, full_dir, pool, template = (
            os.path.join(self.work, d) for d in ("base", "full", "pool", "template-store")
        )
        _fresh(pool, template)
        os.makedirs(pool)
        _write_day(spark, base_dir, self.seed, self.N_CONVS, self.BASE_TURNS,
                   self.BASE_GAP_PCT)
        _write_day(spark, full_dir, self.seed, self.N_CONVS,
                   self.BASE_TURNS + self.EXTRA_TURNS, 0)
        self.base_files = checks.parquet_files(base_dir)
        self.pool = self._write_drops(full_dir, pool)
        # the committed day goes in through the stream itself, so loading
        # the template also warms the streaming path
        self._drain(RollupStore(spark, template), base_dir,
                    os.path.join(self.work, "template-checkpoint"))
        # warm-up: one drop into a copy of the template, so the plans of a
        # merge against a committed day are compiled before the timed part
        warm, warm_inbox, warm_ckpt = self._fresh_copy(spark, template, "warm-")
        shutil.copyfile(self.pool[0], os.path.join(warm_inbox, "warm.parquet"))
        self._drain(warm, warm_inbox, warm_ckpt, max_files=1)
        self.store, self.inbox, self.checkpoint = self._fresh_copy(spark, template, "")
        self.next_drop = 0

    def _fresh_copy(self, spark, template: str, prefix: str):
        """A byte-for-byte copy of the template store, a fresh checkpoint
        dir and an empty inbox: (store, inbox, checkpoint)."""
        store, inbox, ckpt = (
            os.path.join(self.work, prefix + d) for d in ("store", "stream-in", "checkpoint")
        )
        _fresh(store, inbox, ckpt)
        shutil.copytree(template, store)
        os.makedirs(inbox)
        return RollupStore(spark, store), inbox, ckpt

    def _write_drops(self, full_dir: str, pool: str) -> list[str]:
        """Late rows are the base day's missing turns, in seeded random
        order; on-time rows are the turns after the base day, in time order.
        Each drop holds DROP_LATE of the first and DROP_ON_TIME of the second."""
        key = ["conv_id", "turn_idx"]
        full = pq.read_table(checks.parquet_files(full_dir))
        base = pq.read_table(self.base_files, columns=key).to_pandas()
        df = full.to_pandas()
        in_base = df.set_index(key).index.isin(base.set_index(key).index)
        late = df[(df["turn_idx"] < self.BASE_TURNS) & ~in_base]
        late = late.iloc[np.random.default_rng(self.seed).permutation(len(late))]
        on_time = df[df["turn_idx"] >= self.BASE_TURNS].sort_values(["turn_idx", "conv_id"])
        n = min(len(late) // self.DROP_LATE, len(on_time) // self.DROP_ON_TIME)
        paths = []
        for d in range(n):
            part = [
                late.iloc[d * self.DROP_LATE: (d + 1) * self.DROP_LATE],
                on_time.iloc[d * self.DROP_ON_TIME: (d + 1) * self.DROP_ON_TIME],
            ]
            table = pa.concat_tables(
                pa.Table.from_pandas(p, schema=full.schema, preserve_index=False)
                for p in part
            )
            paths.append(os.path.join(pool, f"drop-{d:04d}.parquet"))
            # INT96 timestamps, as Spark writes them
            pq.write_table(table, paths[-1], use_deprecated_int96_timestamps=True)
        self.inputs = {
            "base_turns": int(len(base)),
            "drops": n,
            "turns_per_drop": self.DROP_LATE + self.DROP_ON_TIME,
        }
        return paths

    @staticmethod
    def _drain(store: RollupStore, inbox: str, checkpoint: str,
               tracer: Tracer = INERT, meter=None, max_files: int | None = None):
        """Drain everything in ``inbox`` with one available-now query."""
        t0 = time.perf_counter()
        with meter or nullcontext(), tracer.span("streaming.ingest.start_rollup_stream"):
            query = ingest.start_rollup_stream(
                ingest.stream_transcripts(
                    store.spark, inbox, max_files_per_trigger=max_files
                ),
                store, SETTINGS, checkpoint, available_now=True,
            )
            query.awaitTermination()
        wall = time.perf_counter() - t0
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))
        return wall, [p for p in query.recentProgress if p["numInputRows"] > 0]

    def cycle(self, spark, tracer, meter) -> dict | None:
        """One drop arrives and is drained: one micro-batch."""
        if self.next_drop == len(self.pool):
            return None  # pool drained: the run measures what it had
        dst = os.path.join(self.inbox, os.path.basename(self.pool[self.next_drop]))
        os.replace(self.pool[self.next_drop], dst)  # atomic arrival
        self.next_drop += 1
        self.fed.append(dst)
        try:
            wall, batches = self._drain(
                self.store, self.inbox, self.checkpoint, tracer, meter, max_files=1
            )
        except Exception as exc:
            _failed(exc)
            return {"wall_s": 0.0, "turns": 0, "primary": [], "ok": [False]}
        progress = [
            {
                "trigger_s": p["durationMs"]["triggerExecution"] / 1e3,
                "add_batch_s": p["durationMs"].get("addBatch", 0) / 1e3,
            }
            for p in batches
        ]
        self.batches += progress
        return {
            "wall_s": wall,
            "turns": self.inputs["turns_per_drop"],
            "primary": [p["trigger_s"] for p in progress],
            # numInputRows is no row count here (foreachBatch scans its batch
            # several times); the rows themselves are checked in final_check
            "ok": [len(progress) == 1],
            "batches": progress,
        }

    def final_check(self) -> bool:
        """Every tier equals a recompute over the base day plus every drop fed."""
        return not checks.tiers_match(self.store.base, self.base_files + self.fed)

    def detail(self) -> dict:
        trig = sorted(b["trigger_s"] for b in self.batches)
        if not trig:
            return {}
        out = {"microbatch_p50_s": statistics.median(trig), "microbatches": len(trig)}
        # the highest percentile with at least 10 batches beyond it
        if len(trig) > 10:
            pct = int(100 * (len(trig) - 10) / len(trig))
            out[f"microbatch_p{pct}_s"] = trig[len(trig) - 11]
        out["microbatch_max_s"] = trig[-1]
        return out


WORKLOADS = {"backfill": Backfill, "stream_late": StreamLate}
