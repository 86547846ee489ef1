"""Incremental retention job: new transcripts -> MERGE into every tier.

Each run reads only rows with ``ts > manifest.watermark`` (on Iceberg:
incremental snapshot read; here: predicate pushed to the parquet scan),
computes the finest-tier partials once, MERGEs them into every tier in one
fold and one write, applies TTL expiry, and commits the checkpoint
manifest with per-partition lineage. Killing the job mid-MERGE and
re-running is safe: MERGE is idempotent and the manifest commits last.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tsprofiler_spark.config import DEFAULT_TIERS, Settings
from tsprofiler_spark.operators.ingest import SERIES_COLS, derive_series
from tsprofiler_spark.operators.rollup import TIER_TRUNC, tier_partials
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
    # ONE exchange for the whole MERGE of a batch into an empty day: the
    # raw series rows are hash-distributed by the series key ONCE. The 1m
    # groupBy and the tier fold both cluster on a SUPERSET of the series
    # cols, so EnsureRequirements inserts no second exchange, and the staged
    # write runs straight from the fold (merge_tiers' layout rule) — at
    # minute granularity a map-side combine would save almost nothing
    # (every turn is its own bucket). No executor-memory cache: all three
    # tiers are one fold of the same rows, so nothing is read twice.
    #
    # Skew note: one task now owns a whole conversation-series — the same
    # per-conv concentration every gap-fill/bucketize window in the engine
    # already has; for pathological single-hot-series corpora the segmented
    # variants (operators/ingest.py gap_fill_segmented, bucketize_segmented)
    # are the documented salting fallback.
    finest = _finest_partials(transcripts)
    # Days whose 1m content is INCOMPLETE (TTL-resurrected): a late row for
    # a day already expired out of 1m (tier TTLs differ — 1m 30d vs 1h 180d
    # / 1d 10y) stages a 1m day holding ONLY late rows, and rebuilding 1h/1d
    # from it would destroy the surviving long-TTL history for that day.
    # Two sources, both needed:
    #   * freshly resurrected this batch: no committed 1m version but a
    #     coarser tier still holds the day;
    #   * flagged `partial` in the manifest by an EARLIER late batch — the
    #     1m day IS committed now, but still lacks the expired history, so
    #     pointer presence alone would wrongly rebuild 1h/1d from late rows
    #     only (the flag is durable for exactly this: the streaming path
    #     never re-expires between batches, so without it the second late
    #     batch for a day silently destroyed the coarse rollup).
    # On these days only this batch's increment folds into 1h/1d (the
    # committed 1m day also holds earlier late batches, which 1h/1d already
    # contain). Both sets are read from the manifest BEFORE commit_run, so a
    # crash-replay of this run_id stages the identical plan. Pinned by
    # test_late_row_after_1m_expiry / test_second_late_batch_after_expiry.
    committed_1m = store.manifest.tiers.get("1m") or {}
    committed_coarse = set(store.manifest.tiers.get("1h") or {}) | set(
        store.manifest.tiers.get("1d") or {}
    )
    partial_1m = store.manifest.partial_days("1m")
    # Both conditions require a SURVIVING coarse version: a partial-flagged
    # day whose 1h/1d pointers are gone (e.g. a selective coarse-tier
    # expire) has nothing to preserve — rebuilding the coarse day from the
    # COMPLETE merged 1m day is then exactly right (the increment alone
    # would drop earlier late batches still committed in 1m). Brand-new
    # days (in no tier yet) are rebuilt for the same reason.
    resurrected = [
        d
        for d in affected
        if d in committed_coarse and (d not in committed_1m or d in partial_1m)
    ]
    lineage, pointers = store.merge_tiers(
        {"1m": finest}, run_id, affected, additive_days=resurrected
    )
    # the resurrected days' new 1m versions still lack the expired history:
    # flag them durably IN THE SAME atomic manifest commit; every other
    # staged day rebuilt its 1h/1d from the complete 1m day (no coarse
    # history left to preserve), so a flag it still carries is stale and
    # clears
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
