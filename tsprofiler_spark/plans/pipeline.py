"""End-to-end profile pipeline (scale mode).

scan -> derive metric -> gap-fill -> bucketize -> chunk stats -> discretize
-> transition counts -> probabilities -> profile rows. One lazy DataFrame
plan; Catalyst fuses the projections, AQE sizes the shuffles. The only
shuffles are (a) the spine join + windows keyed on conv_id and (b) the
groupBys keyed on the series prefix — same key family, so exchanges reuse
partitioning where possible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tsprofiler_spark.config import Settings
from tsprofiler_spark.operators.ingest import (
    derive_multi_series,
    derive_series,
    gap_fill_series,
    gap_fill_slim,
)
from tsprofiler_spark.operators.profile import (
    assemble_profile,
    bucketize,
    bucketize_segmented,
    chunk_stats,
    series_stats,
    transition_counts,
    transition_probs,
    with_state,
)


# Measured gate for the segmented skew path (same pattern as
# dedup_components' driver-vs-distributed size gate): segmentation engages
# automatically when any single conversation exceeds this many rows. Below
# it, a whole-series window sort is at most ~tens of MB in one task —
# cheaper than the segmented variant's extra boundary join; above it, one
# hot conv_id serializes its entire history through a single task's sort
# (the north_rule's skew case — at 100x a pathological conversation is
# WHEN, not if). 1M rows ≈ 30-60 MB of (ts, turn_idx, value) sort payload.
SEGMENT_AUTO_ROWS = 1 << 20
SEGMENT_TURNS_DEFAULT = 65536


def auto_segment_turns(
    transcripts: DataFrame,
    auto_segment_rows: int = SEGMENT_AUTO_ROWS,
    segment_turns: int = SEGMENT_TURNS_DEFAULT,
) -> int | None:
    """Measured auto-trigger: ``segment_turns`` if the hottest conv_id
    holds more than ``auto_segment_rows`` rows, else None (plain path).

    Cost: one column-pruned count-by-conv pass (map-side combined to one
    row per conversation — at 100 TB this shuffles megabytes), run ONCE at
    pipeline construction. The alternative — always segmenting — taxes
    every normal corpus with the boundary-offset join; always NOT
    segmenting hands the north_rule's skew case a serialized sort."""
    mx = (
        transcripts.groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.max("c"))
        .collect()[0][0]
    )
    return segment_turns if (mx or 0) > auto_segment_rows else None


def profile_pipeline(
    transcripts: DataFrame,
    settings: Settings,
    do_gap_fill: bool = True,
    step_seconds: int = 60,
    cache_chunks: bool = True,
    segment_turns: int | None | str = "auto",
    chunk_stage_dir: str | None = None,
    metrics: tuple[str, ...] | None = None,
    auto_segment_rows: int = SEGMENT_AUTO_ROWS,
) -> dict[str, DataFrame]:
    """Return the profile's stages keyed by name (``series`` ... ``profile``).
    Only plans the profile reads are built: the text-carrying gap-filled
    transcript view is ``operators.ingest.gap_fill``'s, not a stage.

    ``segment_turns``: ``"auto"`` (default) runs the measured skew gate
    (`auto_segment_turns`) — the segmented salted path engages only when a
    conversation exceeds ``auto_segment_rows`` rows; an int forces
    segmentation at that segment size; ``None`` forces the plain path; any
    other string raises ``ValueError``. Value-equality of the two paths is
    pinned by tests/test_skew.py.

    The per-chunk stats table (1/buffer_size the raw row count) feeds BOTH
    the transition branch and the stats branch of the final profile;
    without pinning it, Catalyst re-executes the whole
    scan→gap-fill→bucketize subtree once per branch. Two pinning modes:

    * ``chunk_stage_dir`` (the cluster-scale mode): write the chunk table
      to parquet there and read it back — the job-local analogue of
      materializing it as its own Iceberg table (it IS the queryable
      bucketed intermediate — reference A25). No executor-heap cache, so
      a small cluster is not penalized by GC the way a deserialized
      MEMORY_AND_DISK cache penalizes it (same reasoning that moved the
      tier cascade to staged parquet).
    * ``cache_chunks`` (default, used when no stage dir is given):
      persist + eager count(). The persisted handle is returned as
      ``stages["chunks"]``; callers that build many pipelines in one
      long-lived session (tests, notebooks) should
      ``stages["chunks"].unpersist()`` when done.

    With either mode the returned plan is NOT fully lazy — one upstream
    pass runs here.
    """
    if segment_turns == "auto":
        segment_turns = auto_segment_turns(transcripts, auto_segment_rows)
    elif isinstance(segment_turns, str):
        raise ValueError(f"segment_turns: 'auto', an int or None, not {segment_turns!r}")
    stages: dict[str, DataFrame] = {}
    t = transcripts

    def _derive(df: DataFrame) -> DataFrame:
        # ``metrics``: profile several derived metrics per turn (reference
        # runs one TSInputMetric per CSV column) — stack() projection, every
        # downstream stage already keys on (series, metric).
        if metrics is not None:
            return derive_multi_series(df, metrics)
        return derive_series(df)

    if do_gap_fill:
        # FUSED slim gap-fill: metric expressions computed at the scan, so
        # the gap-fill window's sort shuffles doubles, not text. Equal to
        # derive_series(gap_fill(t)), pinned by tests/test_gap_fill_slim.py.
        series = gap_fill_series(
            gap_fill_slim(
                transcripts,
                metrics,
                step_seconds=step_seconds,
                segment_turns=segment_turns,
            )
        )
    else:
        series = _derive(t)
    stages["series"] = series
    if segment_turns:
        # same order contract as the branches below: the gap-filled view is
        # canonical on the TURN axis (interpolated gap ts is not monotone
        # against observed ts when real cadence != step_seconds), raw
        # transcripts on (ts, turn_idx)
        bucketed = bucketize_segmented(
            series,
            settings.buffer_size,
            segment_turns=segment_turns,
            order_cols=("turn_idx",) if do_gap_fill else ("ts", "turn_idx"),
        )
    elif do_gap_fill:
        # The gap-filled path defines arrival order as TURN order: gap_fill
        # itself computes LOCF and ts interpolation along turn_idx, so the
        # dense output is canonical on the turn axis, and ordering bucketize
        # by turn_idx alone reuses the SAME window spec as the LOCF value
        # fill — one whole-table sort less in the hot path. Filled rows'
        # interpolated ts is monotone in turn_idx by construction; observed
        # rows keep their raw ts, so an input whose ts is NON-monotone in
        # turn_idx buckets by turn order here but by (ts, turn_idx) in the
        # non-gap-fill path — turn order is the right semantics for
        # transcripts (ts carries clock skew; turn_idx is the conversation
        # order the reference's arrival-order contract maps to).
        bucketed = bucketize(series, settings.buffer_size, order_cols=("turn_idx",))
    else:
        bucketed = bucketize(series, settings.buffer_size)
    stages["bucketed"] = bucketed
    chunks = chunk_stats(bucketed, settings)
    if chunk_stage_dir is not None:
        # Cluster-scale pinning: one write job materializes the chunk
        # table as columnar parquet, and both downstream branches re-scan
        # that (compressed, column-pruned) copy instead of a deserialized
        # executor-heap cache. Heap stays free for the shuffle stages. The
        # read-back passes the plan's schema, so no footer-inference job runs.
        spark = chunks.sparkSession
        chunks.write.mode("overwrite").parquet(chunk_stage_dir)
        chunks = spark.read.schema(chunks.schema).parquet(chunk_stage_dir)
    elif cache_chunks:
        from pyspark import StorageLevel

        chunks = chunks.persist(StorageLevel.MEMORY_AND_DISK)
        # Materialize NOW: the profile join consumes this table in two
        # concurrent subtrees, and a lazily-populated cache makes both
        # branches race and each recompute the whole scan→gap-fill→bucketize
        # subtree (cache fills per-partition with no cross-branch dedup).
        # One eager count pins the cost to a single pass.
        chunks.count()
    stages["chunks"] = chunks
    states = with_state(chunks, settings)
    stages["states"] = states
    counts = transition_counts(states, settings)
    stages["counts"] = counts
    probs = transition_probs(counts, settings)
    stages["probs"] = probs
    stats = series_stats(chunks, settings)
    stages["stats"] = stats
    stages["profile"] = assemble_profile(probs, stats, settings)
    return stages


def run_profile(transcripts: DataFrame, settings: Settings, **kw) -> DataFrame:
    """Profile DataFrame only. NOTE: with cache_chunks=True (default) the
    intermediate chunk table stays persisted for the profile's lifetime;
    use profile_pipeline() directly when you need the unpersist handle."""
    return profile_pipeline(transcripts, settings, **kw)["profile"]
