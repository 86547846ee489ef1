"""Rollup storage: snapshot-committed MERGE of tier partials + manifest.

On a real cluster this layer targets Iceberg (`MERGE INTO` keyed on
(series, metric, bucket_start), partition spec (days(bucket_start),
bucket(N, conv_id)), snapshot expiry for TTL). This sandbox has no Iceberg
runtime jar, so the same *commit semantics* are implemented directly:

* tier data lives in per-day **versioned** directories
  ``<base>/tier=<t>/day=<yyyy-mm-dd>/v=<run_id>/``;
* a MERGE **stages** new day versions (write-then-swap: one Spark write job
  into a staging dir, then a rename per affected day);
* the checkpoint manifest (JSON, atomic ``os.replace``) holds the committed
  ``{tier: {day: version}}`` pointers, the high-watermark `ts`, and run
  lineage — readers only ever see committed versions.

This is what makes ingestion **exactly-once under at-least-once replay**
(Structured Streaming's foreachBatch, or a re-run batch job): a crash
anywhere before the single manifest commit leaves the committed pointers
untouched, so the replay recomputes the same day versions from the same
committed base snapshot and idempotently overwrites the staged dirs. There
is no window in which a partially-merged tier is visible, and no additive
double-count — the same mechanism (and the same reason) as an Iceberg
snapshot commit.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections.abc import Sequence
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from tsprofiler_spark.operators.ingest import SERIES_COLS
from tsprofiler_spark.operators.rollup import (
    CASCADE,
    PARTIALS,
    TIER_TRUNC,
    fold_partials,
)

TIER_KEY = SERIES_COLS + ["metric", "bucket_start"]
# Data columns of every tier file. Reads pass it explicitly: inferring it
# from parquet footers costs one Spark job per read.
TIER_SCHEMA = ", ".join(
    [f"{c} STRING" for c in SERIES_COLS + ["metric"]]
    + ["bucket_start TIMESTAMP", "n BIGINT"]
    + [f"{c} DOUBLE" for c in PARTIALS[1:]]
)


def _parquet_files(path: str) -> list[str]:
    return [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    ]


LINEAGE_KEEP = 256  # full per-day lineage kept for the most recent N runs
# the manifest's persisted fields, in file order
_STATE = ("watermark", "runs", "tiers", "compacted_run_ids", "partial")


@dataclass
class Manifest:
    path: str
    watermark: str | None = None  # max ingested ts (ISO)
    runs: list = field(default_factory=list)
    # committed snapshot pointers: tier -> {day -> version (run_id)}
    tiers: dict = field(default_factory=dict)
    # run_ids of runs whose full lineage has been compacted away; together
    # with runs' ids this is the complete replay-dedup set. A long-lived
    # minute-cadence stream commits ~500k runs/year — at a few tens of bytes
    # per compacted id the manifest stays small, whereas unbounded full
    # lineage (per-day partition records) grew it without limit.
    compacted_run_ids: list = field(default_factory=list)
    # tier -> sorted list of days whose committed content is INCOMPLETE
    # (a TTL-resurrected day holds only late rows, not the expired
    # history). Durable because the incompleteness outlives the batch that
    # created it: a SECOND late batch for the same day must keep additive
    # merge semantics toward the coarser tiers — re-deriving "resurrected"
    # from pointer presence alone would see the day committed and take the
    # replace path, rebuilding the 1h/1d day from late rows only and
    # silently destroying the surviving long-TTL rollup. The flag clears
    # when the day TTL-expires out of the tier again (drop_days) or a merge
    # restages it on the replace path (record_run).
    partial: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        self._run_ids = set(self.compacted_run_ids)
        self._run_ids.update(r.get("run_id") for r in self.runs)

    @staticmethod
    def load(path: str) -> "Manifest":
        if os.path.exists(path):
            with open(path) as f:
                d = json.load(f)
            return Manifest(path=path, **{k: d[k] for k in _STATE if k in d})
        return Manifest(path=path)

    def has_run(self, run_id: str) -> bool:
        return run_id in self._run_ids

    def partial_days(self, tier: str) -> set[str]:
        """Days committed in ``tier`` with INCOMPLETE content (see `partial`)."""
        return set(self.partial.get(tier, []))

    def _save(self) -> None:
        tmp = self.path + ".tmp"
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        with open(tmp, "w") as f:
            json.dump({k: getattr(self, k) for k in _STATE}, f, indent=1)
            f.flush()
            os.fsync(f.fileno())  # the content is on disk before the swap
        os.replace(tmp, self.path)  # THE atomic commit point
        # ... and the swap itself survives a power failure
        fd = os.open(os.path.dirname(self.path), os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)

    def record_run(
        self,
        run_id: str,
        watermark: str,
        partitions: list[dict],
        pointers: dict[str, dict[str, str]] | None = None,
        partial_days: dict[str, list[str]] | None = None,
    ) -> None:
        """Single atomic commit: watermark + lineage + tier snapshot pointers
        (+ `partial` flags: for a tier in ``partial_days`` the listed days
        are flagged and every other day it points to unflagged, in the SAME
        atomic save so a crash can never publish a day with a wrong flag)."""
        self.watermark = watermark
        self.runs.append(
            {
                "run_id": run_id,
                "watermark": watermark,
                "completed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                "partitions": partitions,
            }
        )
        self._run_ids.add(run_id)
        while len(self.runs) > LINEAGE_KEEP:
            self.compacted_run_ids.append(self.runs.pop(0)["run_id"])
        for tier, days in (pointers or {}).items():
            self.tiers.setdefault(tier, {}).update(days)
        for tier, days in (partial_days or {}).items():
            kept = set(self.partial.pop(tier, [])) - set((pointers or {}).get(tier, {}))
            if kept | set(days):
                self.partial[tier] = sorted(kept | set(days))
        self._save()

    def drop_days(self, tier: str, days: list[str]) -> None:
        """Commit a TTL expiry (pointer removal) before any dir deletion.
        A dropped day's `partial` flag clears with it: once the incomplete
        version is gone, the next late row re-resurrects from scratch."""
        t = self.tiers.get(tier, {})
        for d in days:
            t.pop(d, None)
        if tier in self.partial:
            keep = [d for d in self.partial[tier] if d not in set(days)]
            if keep:
                self.partial[tier] = keep
            else:
                del self.partial[tier]
        self._save()


class RollupStore:
    """Tier tables with snapshot-commit MERGE semantics and lineage metrics."""

    def __init__(self, spark: SparkSession, base_path: str):
        self.spark = spark
        self.base = base_path
        self.manifest = Manifest.load(os.path.join(base_path, "manifest.json"))

    def _tier_path(self, tier: str) -> str:
        return os.path.join(self.base, f"tier={tier}")

    def _day_dir(self, tier: str, day: str, version: str) -> str:
        return os.path.join(self._tier_path(tier), f"day={day}", f"v={version}")

    def read_versions(self, tier: str, pointers: dict[str, str]) -> DataFrame:
        """Read a specific {day: version} set of a tier (committed or staged)."""
        paths = [self._day_dir(tier, day, ver) for day, ver in sorted(pointers.items())]
        df = (
            self.spark.read.schema(TIER_SCHEMA)
            .option("basePath", self._tier_path(tier))
            .parquet(*paths)
        )
        # partition inference types day= as DATE; keep the string contract
        return df.drop("v").withColumn(
            "day", F.date_format(F.col("day"), "yyyy-MM-dd")
        )

    def read_tier(
        self,
        tier: str,
        start_day: str | None = None,
        end_day: str | None = None,
    ) -> DataFrame | None:
        """Committed snapshot of a tier (only manifest-pointed versions).

        ``start_day``/``end_day`` (inclusive ``yyyy-MM-dd`` bounds) prune at
        the PATH level: days outside the range are never listed, let alone
        scanned — the manifest is the partition index, so a time-range query
        over years of tiers opens only the requested days' files (the
        Iceberg-manifest analogue of partition pruning)."""
        pointers = self.manifest.tiers.get(tier)
        if pointers and (start_day or end_day):
            pointers = {
                d: v
                for d, v in pointers.items()
                if (start_day is None or d >= start_day)
                and (end_day is None or d <= end_day)
            }
        if not pointers:
            return None
        return self.read_versions(tier, pointers)

    def _publish(self, src: str, tier: str, day: str, run_id: str) -> dict:
        """Move a staged day dir to its version dir; return its lineage row.
        Not yet visible: `commit_run` swaps the manifest pointer."""
        dst = self._day_dir(tier, day, run_id)
        if os.path.isdir(dst):
            shutil.rmtree(dst)  # replayed run_id: idempotent overwrite
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.replace(src, dst)
        files = _parquet_files(dst)
        # rows from the parquet footers: counting them costs no Spark job
        rows = sum(pq.read_metadata(f).num_rows for f in files)
        size = sum(os.path.getsize(f) for f in files)
        return {"tier": tier, "day": day, "rows": rows, "bytes": size}

    def merge_tiers(
        self,
        partials_by_tier: dict[str, DataFrame],
        run_id: str,
        affected: list[str],
        additive_days: Sequence[str] = (),
    ) -> tuple[list[dict], dict[str, dict[str, str]]]:
        """Stage the MERGE of one batch into EVERY tier as new day versions:
        ONE fold and ONE write job (NOT yet visible — the caller publishes
        atomically via `commit_run`).

        One fold over a tier fan-out. Each input row carries ``feeds``, the
        tiers it contributes to, and a single `fold_partials` over
        (tier, *TIER_KEY) builds every staged (tier, day):

        * new partials of tier t feed t and every coarser tier;
        * the committed 1m version of each ``affected`` day feeds every
          tier: the day is rebuilt from its complete 1m content;
        * on an ``additive_days`` day (incomplete 1m content, e.g. a
          TTL-resurrected day) the committed 1m version feeds only 1m, and
          the committed 1h/1d versions feed their own tier, so the batch's
          increment folds ADDITIVELY into the surviving coarse history.

        Associative combine: late/duplicate windows fold exactly, and
        re-staging the same input (replay with the same run_id) overwrites
        the same version dirs byte-identically. Write-then-swap: the job
        lands in a staging dir, then one rename per (tier, day) into the
        versioned location (the sandbox analogue of an Iceberg multi-table
        snapshot commit).

        ``affected`` is the set of touched yyyy-MM-dd day partitions — the
        same for every tier of one batch (day truncation of the same bucket
        range), so callers fold it into their watermark aggregation. Only
        those days' committed versions are read: the manifest is the
        partition index.

        Layout: every partials plan must arrive hash-distributed on the
        series key. A union with committed versions is repartitioned by it
        once; the fold clusters on a superset of it, and the write adds no
        shuffle of its own.

        Returns (lineage, pointers) with pointers = {tier: {day: run_id}}.
        """

        def feeding(df: DataFrame, feeds: Column) -> DataFrame:
            return df.select(*TIER_KEY, *PARTIALS, feeds.alias("feeds"))

        def tiers(names: list[str]) -> Column:
            return F.array(*map(F.lit, names))

        inputs = [
            feeding(df, tiers(CASCADE[CASCADE.index(t):]))
            for t, df in partials_by_tier.items()
        ]
        additive = sorted(additive_days)
        for t in CASCADE:
            # a coarse version is read only where it is folded into: on
            # every other day the committed 1m day rebuilds it
            days = set(affected if t == CASCADE[0] else additive)
            committed = self.manifest.tiers.get(t) or {}
            pointers = {d: v for d, v in committed.items() if d in days}
            if pointers:
                feeds = F.when(F.col("day").isin(*additive), tiers([t]))
                old = self.read_versions(t, pointers)
                inputs.append(feeding(old, feeds.otherwise(tiers(CASCADE))))
        rows = inputs[0]
        for df in inputs[1:]:
            rows = rows.unionByName(df)
        if len(inputs) > 1:
            rows = rows.repartition(*SERIES_COLS)
        tier = F.col("tier")
        bucket = F.when(
            tier == CASCADE[0], F.date_trunc(TIER_TRUNC[CASCADE[0]], "bucket_start")
        )
        for t in CASCADE[1:]:
            bucket = bucket.when(tier == t, F.date_trunc(TIER_TRUNC[t], "bucket_start"))
        fanned = rows.select(
            *TIER_KEY, *PARTIALS, F.explode("feeds").alias("tier")
        ).withColumn("bucket_start", bucket)
        merged = fold_partials(fanned, "tier", *TIER_KEY).withColumn(
            "day", F.date_format(F.date_trunc("day", "bucket_start"), "yyyy-MM-dd")
        )
        # ONE write job, NO executor-memory cache of the merged data: the
        # staged parquet itself is the materialization (columnar, compressed
        # — a fraction of a deserialized JVM cache, and what an Iceberg
        # MERGE produces anyway). Row counts for lineage/validation come
        # from the staged files' parquet footers afterwards (no Spark job).
        #
        # The one layout rule: each write task holds a disjoint series-key
        # hash range (the fold's input exchange), so a (series, metric,
        # tier, day) segment never spans two files and a conversation's
        # rows stay colocated. Writing straight from the fold also saves a
        # FULL second shuffle of the merged tiers, the single largest
        # exchange at finest-tier scale.
        # Sort within partitions by the full segment key + time. The dynamic
        # partitionBy write needs a local sort on (tier, day) anyway (one
        # open writer per dir); widening it to the series key and
        # bucket_start costs the same single SortExec but makes every staged
        # file SEGMENT-CONTIGUOUS and time-ordered — parquet delta/dict
        # encoding compresses better, range scans read ordered data, and the
        # codec can stream segments straight off the scan with no shuffle
        # (operators/compress.py compress_points_colocated).
        staging = os.path.join(self.base, f"_staging-{run_id}")
        merged = merged.sortWithinPartitions(
            "tier", "day", *SERIES_COLS, "metric", "bucket_start"
        )
        # The planned-write optimizer (Spark 3.4+, on by default) requires
        # ordering on `empty2null(<string partition col>)`, which never
        # semantically matches a user sort on the raw column — so it layers
        # its own UNSTABLE sort on (tier, day) over ours and scrambles the
        # segment order inside every file. The legacy write path compares
        # orderings on the attributes themselves, sees ours as a superset,
        # and adds nothing. Scoped set/restore: writes are synchronous and
        # this store is single-writer by contract (manifest commit).
        planned = "spark.sql.optimizer.plannedWrite.enabled"
        prev = self.spark.conf.get(planned, None)
        self.spark.conf.set(planned, "false")
        try:
            merged.write.partitionBy("tier", "day").mode("overwrite").parquet(staging)
        finally:
            if prev is None:
                self.spark.conf.unset(planned)
            else:
                self.spark.conf.set(planned, prev)
        # the staged (tier, day) set is the partition dirs the write created
        staged = sorted(
            (t[len("tier="):], d[len("day="):])
            for t in os.listdir(staging)
            if t.startswith("tier=")
            for d in os.listdir(os.path.join(staging, t))
            if d.startswith("day=")
        )
        # a staged day outside `affected` means its existing rows were never
        # unioned in — committing would silently drop them. The invariant
        # (ts-derived touched_days covers every tier-bucket day) is cheap to
        # enforce here: a directory listing.
        missing = sorted({d for (_, d) in staged} - set(affected))
        if missing:
            shutil.rmtree(staging, ignore_errors=True)
            raise ValueError(
                f"merge_tiers: staged days {missing} not covered by "
                f"affected={sorted(affected)} — existing data would be lost"
            )
        pointers: dict[str, dict[str, str]] = {}
        lineage = []
        for tier, day in staged:
            src = os.path.join(staging, f"tier={tier}", f"day={day}")
            lineage.append(self._publish(src, tier, day, run_id))
            pointers.setdefault(tier, {})[day] = run_id
        shutil.rmtree(staging, ignore_errors=True)
        return lineage, pointers

    def commit_run(
        self,
        run_id: str,
        watermark: str,
        lineage: list[dict],
        pointers: dict[str, dict[str, str]],
        partial_days: dict[str, list[str]] | None = None,
    ) -> None:
        """Atomically publish every staged tier version + watermark, then GC
        (safe post-commit: readers only follow the manifest): each day the
        commit points keeps only its pointed version dir, and no staging
        dir survives — so superseded versions AND a crashed earlier run's
        files go. The store is single-writer by contract."""
        self.manifest.record_run(
            run_id, watermark, lineage, pointers, partial_days=partial_days
        )
        for tier, days in pointers.items():
            for day, ver in days.items():
                day_dir = os.path.dirname(self._day_dir(tier, day, ver))
                for v in os.listdir(day_dir):
                    if v != f"v={ver}":
                        shutil.rmtree(os.path.join(day_dir, v), ignore_errors=True)
        for d in os.listdir(self.base):
            if d.startswith("_staging-"):
                shutil.rmtree(os.path.join(self.base, d), ignore_errors=True)

    def expire(self, tier: str, ttl_days: int) -> list[str]:
        """TTL expiry: drop whole day partitions older than watermark - ttl
        (Iceberg: DELETE WHERE + expire_snapshots). Pointer removal commits
        first; dir deletion is post-commit cleanup."""
        if self.manifest.watermark is None:
            return []
        import datetime as dt

        wm = dt.datetime.fromisoformat(self.manifest.watermark)
        cutoff = (wm - dt.timedelta(days=ttl_days)).strftime("%Y-%m-%d")
        dropped = sorted(
            d for d in self.manifest.tiers.get(tier, {}) if d < cutoff
        )
        if not dropped:
            return dropped
        self.manifest.drop_days(tier, dropped)
        for day in dropped:
            shutil.rmtree(
                os.path.join(self._tier_path(tier), f"day={day}"), ignore_errors=True
            )
        return dropped

    def _day_files(self, tier: str, day: str, version: str) -> list[str]:
        return _parquet_files(self._day_dir(tier, day, version))

    def compact_tier(
        self,
        tier: str,
        run_id: str,
        target_bytes: int = 128 << 20,
        slack: float = 1.5,
    ) -> list[dict]:
        """Small-file compaction of committed day partitions (the Iceberg
        ``rewrite_data_files`` maintenance action).

        A MERGE writes one file per write task holding rows of a
        (tier, day) — up to the AQE-sized shuffle width, right for write
        parallelism, but a low-volume day of a wide (multi-day or
        cluster-scale) merge then carries many KB-sized files whose
        open/footer cost dominates reads at 100 TB. For each committed day
        whose file count exceeds ``slack ×`` the ideal
        ``ceil(bytes / target_bytes)``, this rewrites that day into the
        ideal file count and swaps the manifest pointer atomically —
        readers never see a half-compacted day, and a crashed compaction
        leaves only an invisible staged version (same write-then-swap
        contract as MERGE; an already-committed ``run_id`` is a no-op, so
        replays are safe). Data is byte-identical by construction: the
        rewrite is a repartition of the same rows, no re-aggregation.

        One Spark job per compacted day, driver-looped: compaction is a
        background maintenance pass over the few days the size heuristic
        selects, not a data-path stage (on a real cluster the same policy
        runs as Iceberg's rewrite_data_files with commit conflicts handled
        by the table format). Returns lineage rows for the compacted days.
        """
        if self.manifest.has_run(run_id):
            return []
        pointers = self.manifest.tiers.get(tier, {})
        plan: list[tuple[str, str, int]] = []  # (day, old_version, n_target)
        for day, ver in sorted(pointers.items()):
            files = self._day_files(tier, day, ver)
            size = sum(os.path.getsize(f) for f in files)
            want = max(1, -(-size // target_bytes))
            if len(files) > slack * want:
                plan.append((day, ver, int(want)))
        if not plan:
            return []
        lineage = []
        new_pointers: dict[str, str] = {}
        staging = os.path.join(self.base, f"_staging-{run_id}")
        for day, ver, want in plan:
            df = self.read_versions(tier, {day: ver}).drop("day")
            stage_day = os.path.join(staging, f"day={day}")
            # hash by series key + re-sort: merge_tiers writes every day
            # SEGMENT-CONTIGUOUS and time-ordered (see the staged-write
            # comment above), and compress_points_colocated's zero-shuffle
            # path depends on that layout — a bare round-robin repartition
            # here would interleave segments and split them into several
            # blobs on every post-compaction codec run (and worsen parquet
            # delta encoding)
            (
                df.repartition(want, *SERIES_COLS)
                .sortWithinPartitions(*SERIES_COLS, "metric", "bucket_start")
                .write.mode("overwrite")
                .parquet(stage_day)
            )
            lineage.append(
                {**self._publish(stage_day, tier, day, run_id),
                 "compacted_to_files": want}
            )
            new_pointers[day] = run_id
        shutil.rmtree(staging, ignore_errors=True)
        self.commit_run(
            run_id, self.manifest.watermark, lineage, {tier: new_pointers}
        )
        return lineage
