"""Incremental retention job: new transcripts -> MERGE into every tier.

Each run reads only rows with ``ts > manifest.watermark`` (on Iceberg:
incremental snapshot read; here: predicate pushed to the parquet scan),
computes the finest-tier partials once, cascades coarser tiers from those
partials, MERGEs each tier, applies TTL expiry, and commits the checkpoint
manifest with per-partition lineage. Killing the job between tiers and
re-running is safe: MERGE is idempotent and the manifest commits last.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tsprofiler_spark.config import DEFAULT_TIERS, Settings
from tsprofiler_spark.operators.ingest import SERIES_COLS, derive_series
from tsprofiler_spark.operators.rollup import (
    TIER_TRUNC,
    cascade_partials,
    tier_partials,
)
from tsprofiler_spark.plans.storage import RollupStore


def tier_ttls(tiers_cfg: dict | None) -> dict[str, float]:
    """{tier: ttl_days} of the rollup tiers in ``tiers_cfg`` (the shape of
    config.DEFAULT_TIERS; ``None`` means no expiry). Entry points call it
    BEFORE merging: a malformed entry then raises ValueError with nothing
    committed, instead of a KeyError from the expiry after the commit."""
    ttls = {}
    for tier, cfg in (tiers_cfg or {}).items():
        if tier not in TIER_TRUNC:
            continue  # "raw" has no rollup tier to expire
        ttl = cfg.get("ttl_days") if isinstance(cfg, dict) else None
        if type(ttl) not in (int, float):
            raise ValueError(
                f"tiers_cfg[{tier!r}] needs a numeric 'ttl_days' (the shape "
                f"of config.DEFAULT_TIERS), got {cfg!r}"
            )
        ttls[tier] = ttl
    return ttls


def _finest_partials(transcripts: DataFrame) -> DataFrame:
    """1m partials behind ONE series-key shuffle with no fixed partition
    count: AQE coalesces it for a small batch (see merge_transcript_batch)."""
    series = derive_series(transcripts).repartition(*SERIES_COLS)
    return tier_partials(series, "1m")


def touched_days() -> F.Column:
    """Aggregate expression: the set of days present in ``ts`` — identical
    to the day partitions every tier bucket of this batch lands in
    (minute/hour/day truncation preserves the day).

    Collected as DATE values, not pre-formatted strings: ``to_date`` is one
    integer division per row while ``date_format`` allocates a string per
    row BEFORE the partial aggregation dedups (measured ~40% of the
    watermark-scan stage's CPU at 41M rows). :func:`scan_batch` formats
    the handful of collected dates driver-side."""
    return F.collect_set(F.to_date("ts"))


def scan_batch(batch: DataFrame) -> tuple[int, object, list[str]]:
    """ONE scan of a batch: its row count, max ``ts`` and touched
    yyyy-MM-dd day partitions (shared by every tier MERGE)."""
    n, wm, days = batch.agg(
        F.count(F.lit(1)), F.max("ts"), touched_days()
    ).collect()[0]
    return n, wm, [d.isoformat() for d in days or []]


def merge_transcript_batch(
    transcripts: DataFrame,
    store: RollupStore,
    run_id: str,
    watermark: str,
    affected: list[str] | None = None,
) -> list[dict]:
    """MERGE one batch of transcripts into every tier in ONE snapshot
    commit; returns lineage (empty when ``run_id`` was already committed).

    Shared by the batch-incremental job below and the Structured Streaming
    ``foreachBatch`` path (streaming/ingest.py) — identical semantics by
    construction, which is what the stream-vs-batch equality test pins.

    Exactly-once under at-least-once replay: a previously committed
    ``run_id`` is skipped outright; a crash mid-batch leaves only staged
    (invisible) day versions, and the replay re-stages them idempotently
    from the same committed base snapshot before the single
    ``commit_run`` publishes all three tiers + the watermark atomically.

    ``affected`` (touched day partitions) is normally folded into the
    caller's existing watermark aggregation (one job); when absent it is
    computed here with a ts-only column-pruned scan.
    """
    if store.manifest.has_run(run_id):
        return []  # replayed micro-batch / re-run — already committed
    if affected is None:
        affected = scan_batch(transcripts)[2]
    # ONE exchange for the whole finest-tier stage: the raw series rows are
    # hash-distributed by the series key ONCE. The 1m groupBy clusters on a
    # SUPERSET of the series cols, so EnsureRequirements inserts no second
    # exchange, and the staged write runs straight from the aggregation
    # output (merge_tiers' layout rule) — at minute granularity a map-side
    # combine would save almost nothing (every turn is its own bucket).
    # Staged files are conversation-colocated, which lets the 1h cascade's
    # map-side combine collapse 60:1 before its (tiny) shuffle.
    #
    # Skew note: one task now owns a whole conversation-series — the same
    # per-conv concentration every gap-fill/bucketize window in the engine
    # already has; for pathological single-hot-series corpora the segmented
    # variants (operators/ingest.py gap_fill_segmented, bucketize_segmented)
    # are the documented salting fallback.
    # Two-step staging, ZERO executor-memory caches: the finest (1m)
    # partials go raw-scan -> groupBy -> staged parquet in one write job,
    # then the 1h/1d cascades read that STAGED PARQUET back (columnar,
    # compressed — storage is the materialization, exactly what cascading
    # from a real Iceberg 1m table does). Caching 40M+ deserialized partial
    # rows in the executor heap instead measurably throttles the N-executor
    # configuration (spill + GC) without saving any scan of the raw data.
    finest = _finest_partials(transcripts)
    lineage, pointers = store.merge_tiers({"1m": finest}, run_id, affected=affected)
    staged_1m = store.read_versions("1m", pointers["1m"])
    # Days whose 1m content is INCOMPLETE (TTL-resurrected): a late row for
    # a day already expired out of 1m (tier TTLs differ — 1m 30d vs 1h 180d
    # / 1d 10y) stages a 1m day holding ONLY late rows, and a full 1h/1d
    # replace would destroy the surviving long-TTL history for that day.
    # Two sources, both needed:
    #   * freshly resurrected this batch: no committed 1m version but a
    #     coarser tier still holds the day;
    #   * flagged `partial` in the manifest by an EARLIER late batch — the
    #     1m day IS committed now, but still lacks the expired history, so
    #     pointer presence alone would wrongly route it to the replace path
    #     and rebuild 1h/1d from late rows only (the flag is durable for
    #     exactly this: the streaming path never re-expires between
    #     batches, so without it the second late batch for a day silently
    #     destroyed the coarse rollup).
    # Both sets are read from the manifest BEFORE commit_run, so a
    # crash-replay of this run_id stages the identical plan. Pinned by
    # test_late_row_after_1m_expiry / test_second_late_batch_after_expiry.
    committed_1m = store.manifest.tiers.get("1m") or {}
    committed_coarse = set(store.manifest.tiers.get("1h") or {}) | set(
        store.manifest.tiers.get("1d") or {}
    )
    partial_1m = store.manifest.partial_days("1m")
    # Both conditions require a SURVIVING coarse version: a partial-flagged
    # day whose 1h/1d pointers are gone (e.g. a selective coarse-tier
    # expire) has nothing to preserve — the replace path cascading the
    # COMPLETE staged 1m day is then exactly right (additive-increment
    # would rebuild the coarse day from only this batch's rows, dropping
    # earlier late batches still committed in 1m). Brand-new days (in no
    # tier yet) stay on the replace fast path for the same reason.
    resurrected = [
        d
        for d in affected
        if d in committed_coarse and (d not in committed_1m or d in partial_1m)
    ]
    # Cascade source per day class:
    #   * replaced days — the staged (complete) 1m day content;
    #   * FRESHLY resurrected days (no committed 1m version) — also the
    #     staged content: with nothing merged in, it IS this batch's
    #     increment, and the columnar staged parquet is cheaper than
    #     re-aggregating the raw batch;
    #   * flagged partial days (committed 1m, incomplete) — ONLY THIS
    #     BATCH'S increment (`finest`): the staged day also contains
    #     earlier late batches' rows, which the additive fold already
    #     merged into 1h/1d — cascading the staged content again would
    #     double-count them.
    flagged = [d for d in resurrected if d in committed_1m]
    if flagged:
        day_of = F.date_format(F.date_trunc("day", "bucket_start"), "yyyy-MM-dd")
        cascade_src = staged_1m.drop("day").where(
            ~day_of.isin(flagged)
        ).unionByName(finest.where(day_of.isin(flagged)))
    else:
        cascade_src = staged_1m.drop("day")
    # 1d cascades from the 1h partials (not from 1m): sums/min/max compose,
    # and the 1h->1d re-aggregation reads 60x fewer rows. No cache: both
    # tiers land in ONE write, whose plan holds the 1h series-key exchange
    # twice — Spark reuses it, so the 1m files are scanned once. That
    # exchange is the write's layout (see merge_tiers): the 1d fold and any
    # merged-day union cluster on a superset of the series key.
    coarse_1h = cascade_partials(cascade_src, "1h").repartition(*SERIES_COLS)
    coarse_1d = cascade_partials(coarse_1h, "1d")
    # Only the resurrected days merge: their cascaded increment folds
    # ADDITIVELY into the existing 1h/1d day, preserving the long-TTL
    # rollup. Every other day's cascade source is the staged 1m day's
    # COMPLETE merged content, so its 1h/1d partials replace the day —
    # folding them into the existing 1h/1d would double-count exactly the
    # previously merged data.
    tier_lineage, tier_ptrs = store.merge_tiers(
        {"1h": coarse_1h, "1d": coarse_1d},
        run_id,
        affected=affected,
        merge_days=resurrected,
    )
    lineage += tier_lineage
    pointers.update(tier_ptrs)
    # the resurrected days' new 1m versions still lack the expired history:
    # flag them durably IN THE SAME atomic manifest commit; every other
    # staged 1m day took the replace path (no coarse history left to
    # preserve), so a flag it still carries is stale and clears
    store.commit_run(
        run_id, watermark, lineage, pointers, partial_days={"1m": resurrected}
    )
    return lineage


def incremental_run(
    transcripts: DataFrame,
    store: RollupStore,
    settings: Settings,
    tiers_cfg: dict | None = None,
    expire: bool = True,
) -> dict:
    """One resumable incremental run. Returns run stats."""
    ttls = tier_ttls(tiers_cfg or DEFAULT_TIERS)

    wm = store.manifest.watermark
    new = transcripts
    if wm is not None:
        new = transcripts.where(F.col("ts") > F.lit(wm).cast("timestamp"))
    n_new, new_wm, affected = scan_batch(new)
    if n_new == 0:
        return {"run_id": None, "new_rows": 0, "partitions": []}
    # deterministic run_id from the data window: a crashed-then-retried run
    # over the same watermark range stages/commits the same snapshot (and a
    # replay after commit is a recorded no-op); also keeps output dirs
    # byte-comparable across parallelism levels in the scaling bench
    new_wm_iso = new_wm.isoformat(sep=" ")
    run_id = "run-" + uuid.uuid5(uuid.NAMESPACE_URL, f"{wm}->{new_wm_iso}").hex[:12]

    lineage = merge_transcript_batch(
        new, store, run_id, new_wm_iso, affected=affected
    )

    if expire:
        for tier, ttl in ttls.items():
            store.expire(tier, ttl)

    return {"run_id": run_id, "new_rows": n_new, "partitions": lineage}
