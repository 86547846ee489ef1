"""Structured Streaming ingestion into the retention tiers.

The reference ingests via a push channel (`Put` — /root/reference/
profiler/profiler.go:63-65, 99-133); our continuous analogue is a
Structured Streaming file/Iceberg source feeding ``foreachBatch``, where
every micro-batch runs the SAME snapshot-committed tier MERGE the
batch-incremental job uses (`plans/retention.py`). State between
micro-batches lives in the rollup tables themselves (continuous
aggregates), so the streaming query needs no Spark state store beyond its
source-offset checkpoint.

Replay semantics: foreachBatch is **at-least-once** (the source offset WAL
is written before the batch runs, the commit log after), so a crash inside
``process`` replays the micro-batch with the same ``batch_id``. That is
safe here for two stacked reasons (plans/storage.py): (1) an already
*committed* ``run_id`` ("stream-<batch_id>") is detected in the manifest
and skipped; (2) a crash *before* the commit left only staged, invisible
day versions, which the replay idempotently re-stages from the same
committed base snapshot — the additive partial fold never runs twice
against visible data, so nothing double-counts and no tier can be observed
mid-merge.

Late data needs no watermark-based dropping: a late turn simply re-MERGEs
into the tier bucket it belongs to (the tier tables are upserts, not
append-only emissions). This matches the engine's batch semantics exactly,
which is what lets one test assert stream-vs-batch equality.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from tsprofiler_spark.config import Settings
from tsprofiler_spark.plans.retention import (
    merge_transcript_batch,
    scan_batch,
    tier_ttls,
)
from tsprofiler_spark.plans.storage import RollupStore

TRANSCRIPTS_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("role", StringType()),
        StructField("text", StringType()),
        StructField("tool", StringType()),
        StructField("ts", TimestampType()),
    ]
)


def stream_transcripts(
    spark: SparkSession,
    input_path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream of transcript parquet drops.

    On a real cluster the same role is played by an Iceberg streaming read
    (``spark.readStream.format("iceberg")``), which feeds snapshots
    incrementally; the file source gives identical semantics in this
    sandbox (each new file = new data past the previous offset).
    """
    reader = spark.readStream.schema(TRANSCRIPTS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_path)


def process_microbatch(
    batch: DataFrame,
    batch_id: int,
    store: RollupStore,
    stream_id: str = "stream",
    legacy_stream_ids: tuple[str, ...] = (),
    tiers_cfg: dict | None = None,
) -> list[dict]:
    """MERGE one micro-batch into every tier (same snapshot-commit path as
    the batch job), keyed by the deterministic ``{stream_id}-{batch_id}``
    run_id — replaying the same batch of the same stream is a no-op.
    Exposed at module level so the replay-safety test can drive it directly.

    ``stream_id`` is the Delta-style ``txnAppId``: ``batch_id`` is only
    unique PER CHECKPOINT, so two queries sharing one store (or a new
    query after a checkpoint reset) would collide at ``stream-0`` and the
    colliding batch would be silently skipped as a "replay" while its
    source offsets still commit — permanent data loss. Each distinct
    streaming query over a store must pass a distinct stream_id
    (start_rollup_stream derives one from the checkpoint path); the
    checkpoint dir and the manifest's run history form ONE unit of state —
    deleting the checkpoint without resetting the store re-delivers the
    source from offset zero into fresh run_ids, which the additive MERGE
    would double-fold (the same contract Delta documents for
    txnAppId/txnVersion idempotent writes).

    ``legacy_stream_ids``: MIGRATION-ONLY replay guard. A store written by
    the pre-r4 scheme committed runs as ``stream-{batch_id}``; when its
    checkpoint resumes under the scoped scheme, the replayed in-flight
    batch carries a new run_id the manifest has never seen, and the
    additive MERGE would double-fold that one batch. Passing the old ids
    here (normally ``("stream",)``) also skips batches committed under
    ``{legacy_id}-{batch_id}``. Deliberately opt-in and to be REMOVED after
    the first drained restart: left on permanently, a *different* new
    query over the same store whose batch_id collides with a legacy run
    would be silently skipped — the exact collision the scoped ids fixed.
    The zero-flag alternative is a drain-and-restart migration: stop the
    old stream at an idle point (no in-flight batch), then restart on the
    new scheme.

    ``tiers_cfg``: when given (same shape as config.DEFAULT_TIERS), run
    TTL expiry after each committed merge — the batch-incremental job does
    this every run, but a STREAMING-ONLY store otherwise never expires:
    its TTLs silently don't apply, and the 1m tier grows past its
    retention forever. Expiry after the merge is also what re-arms the
    resurrected-day machinery (an expired day's next late row recreates a
    flagged partial 1m day). Cheap: a manifest day-list scan + pointer
    commit; no Spark job."""
    ttls = tier_ttls(tiers_cfg)
    run_id = f"{stream_id}-{batch_id}"
    if store.manifest.has_run(run_id):
        return []  # at-least-once replay of a committed batch
    for legacy in legacy_stream_ids:
        if store.manifest.has_run(f"{legacy}-{batch_id}"):
            return []  # replay of a batch committed under the legacy scheme
    # one scan: row count (empty batch: nothing to commit), watermark, days
    n, wm, affected = scan_batch(batch)
    if n == 0:
        return []
    # never move the watermark backwards: a batch of only LATE rows (ts all
    # below the committed watermark) must re-MERGE its tiers but keep the
    # high watermark — lowering it would make a later batch-incremental run
    # on the same store re-read and double-fold the (new_wm, old_wm] range
    watermark = wm.isoformat(sep=" ") if wm is not None else None
    prior = store.manifest.watermark
    if watermark is None or (prior is not None and watermark < prior):
        watermark = prior
    lineage = merge_transcript_batch(
        batch, store, run_id, watermark, affected=affected
    )
    for tier, ttl in ttls.items():
        store.expire(tier, ttl)
    return lineage


def start_rollup_stream(
    stream: DataFrame,
    store: RollupStore,
    settings: Settings,
    checkpoint_dir: str,
    available_now: bool = True,
    legacy_stream_ids: tuple[str, ...] = (),
    tiers_cfg: dict | None = None,
):
    """Start the continuous rollup: stream -> foreachBatch tier MERGE.

    ``available_now=True`` drains everything currently available then stops
    (used by tests and backfills); ``False`` runs continuously with the
    default micro-batch trigger.

    The run-dedup identity is ``uuid5(checkpoint_dir)-{batch_id}``: stable
    across restarts of the SAME query (checkpoint resume replays the same
    batch_id under the same stream_id — correctly skipped), distinct for
    a second query over the same store (different checkpoint -> different
    stream_id — no collision). See process_microbatch for the
    checkpoint/store lifecycle contract and for ``legacy_stream_ids``
    (one-restart migration guard for stores written by the pre-scoped
    ``stream-{batch_id}`` scheme; pass ``("stream",)`` for the first
    resumed restart, then drop it) and ``tiers_cfg`` (per-batch TTL
    expiry — a streaming-only store never expires without it).
    """
    import uuid

    # fail at the call, before the query starts, not inside foreachBatch
    tier_ttls(tiers_cfg)
    stream_id = "stream-" + uuid.uuid5(
        uuid.NAMESPACE_URL, os.path.abspath(checkpoint_dir)
    ).hex[:12]

    def process(batch: DataFrame, batch_id: int) -> None:
        process_microbatch(
            batch, batch_id, store, stream_id=stream_id,
            legacy_stream_ids=legacy_stream_ids, tiers_cfg=tiers_cfg,
        )

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
