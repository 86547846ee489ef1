"""Cascading retention tiers: raw -> 1m -> 1h -> 1d downsamples.

The reference has no wall-clock tiers (periods are chunk-counted,
period.go:83-135); our engine defines tiers on ``ts`` per the north_rule.
Each tier bucket carries the distributive partials (n, s1, s2, min, max) so
coarser tiers re-aggregate from finer tiers without touching raw data
(continuous aggregates). Stats formulas are written explicitly (not via
stddev_samp) so the identical ANSI SQL runs in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tsprofiler_spark.config import Settings
from tsprofiler_spark.functions import closest_state, go_round_nonneg
from tsprofiler_spark.operators.ingest import SERIES_COLS

TIER_TRUNC = {"1m": "minute", "1h": "hour", "1d": "day"}
# cascade order: each tier is computed from the previous (finer) one
CASCADE = ["1m", "1h", "1d"]
# the distributive partials every tier bucket carries
PARTIALS = ["n", "s1", "s2", "vmin", "vmax"]


def tier_partials(series: DataFrame, tier: str) -> DataFrame:
    """raw observations -> tier partials, one row per (series, metric,
    bucket_start)."""
    value = F.col("value")
    return series.groupBy(
        *SERIES_COLS, "metric", F.date_trunc(TIER_TRUNC[tier], "ts").alias("bucket_start")
    ).agg(
        F.count(value).alias("n"),
        F.sum(value).alias("s1"),
        F.sum(value * value).alias("s2"),
        F.min(value).alias("vmin"),
        F.max(value).alias("vmax"),
    )


def fold_partials(partials: DataFrame, *keys) -> DataFrame:
    """Combine partials per ``keys``: n/s1/s2 sum, vmin min, vmax max —
    associative and commutative, so any split of the input folds to the
    same result."""
    return partials.groupBy(*keys).agg(
        F.sum("n").alias("n"),
        F.sum("s1").alias("s1"),
        F.sum("s2").alias("s2"),
        F.min("vmin").alias("vmin"),
        F.max("vmax").alias("vmax"),
    )


def cascade_partials(finer: DataFrame, tier: str) -> DataFrame:
    """finer tier partials -> coarser tier partials (never rescans raw;
    exact for the distributive partials)."""
    return fold_partials(
        finer,
        *SERIES_COLS,
        "metric",
        F.date_trunc(TIER_TRUNC[tier], "bucket_start").alias("bucket_start"),
    )


def rollup_from_series(series: DataFrame, tier: str, settings: Settings) -> DataFrame:
    """raw observations -> finest time tier (one shuffle on the series key)."""
    return _finish_tier(tier_partials(series, tier), tier, settings)


def rollup_cascade(finer: DataFrame, tier: str, settings: Settings) -> DataFrame:
    """finer tier -> coarser tier."""
    return _finish_tier(cascade_partials(finer, tier), tier, settings)


def _finish_tier(g: DataFrame, tier: str, settings: Settings) -> DataFrame:
    avg = F.col("s1") / F.col("n")
    # explicit sample-stddev formula so the DuckDB oracle matches bit-for-bit
    var = (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (F.col("n") - 1)
    stddev = F.when(F.col("n") > 1, F.sqrt(F.greatest(var, F.lit(0.0))))
    return g.select(
        *SERIES_COLS,
        "metric",
        F.lit(tier).alias("tier"),
        "bucket_start",
        *PARTIALS,
        avg.alias("avg"),
        stddev.alias("stddev"),
        closest_state(avg, settings.states, settings.fixed_min, settings.fixed_max).alias(
            "state"
        ),
    )


def build_tiers(series: DataFrame, settings: Settings) -> dict[str, DataFrame]:
    """The cascade raw->1m->1h->1d. Returned lazily; caller persists each
    tier before cascading in production (plans/retention.py does)."""
    tiers: dict[str, DataFrame] = {}
    finer = rollup_from_series(series, "1m", settings)
    tiers["1m"] = finer
    for tier in CASCADE[1:]:
        finer = rollup_cascade(finer, tier, settings)
        tiers[tier] = finer
    return tiers


def downsample_m4(series: DataFrame, tier: str = "1m") -> DataFrame:
    """M4 downsampling (Jugel et al., "M4: A Visualization-Oriented Time
    Series Data Aggregation", VLDB 2014 — public paper): per (series,
    metric) and time bucket keep the four rendering-relevant points —
    first, last, min, max — which bound every line segment a plot of the
    raw series could draw through that bucket. The reference's heatmap
    tooling (tools/plotRootTx) plots profiles, not raw series; M4 is the
    standard raw-series counterpart at 100 TB where plotting raw points is
    impossible.

    Buckets are calendar tiers (minute/hour/day) rather than M4's
    pixel-count widths so the output composes with the retention cascade;
    the aggregate itself is the same.

    Plan shape: ONE hash aggregation (shuffle on the series key + bucket),
    all JVM-side. first/last/min/max are computed as ``min``/``max`` over
    struct columns — lexicographic struct ordering makes every output
    deterministic under any row arrival order (ties on value broken by
    (ts, turn_idx); (ts, turn_idx) is unique per series). Struct min/max
    is a plain distributive aggregate, so map-side partial aggregation and
    AQE work exactly as for the numeric tiers, and coarser M4 buckets
    could cascade from finer ones without touching raw data.
    """
    trunc = TIER_TRUNC[tier]
    by_arrival = F.struct(F.col("ts"), F.col("turn_idx"), F.col("value"))
    by_value = F.struct(F.col("value"), F.col("ts"), F.col("turn_idx"))
    g = series.groupBy(
        *SERIES_COLS, "metric", F.date_trunc(trunc, "ts").alias("bucket_start")
    ).agg(
        F.count("value").alias("n"),
        F.min(by_arrival).alias("_first"),
        F.max(by_arrival).alias("_last"),
        F.min(by_value).alias("_min"),
        F.max(by_value).alias("_max"),
    )
    return g.select(
        *SERIES_COLS,
        "metric",
        F.lit(tier).alias("tier"),
        "bucket_start",
        "n",
        F.col("_first.value").alias("v_first"),
        F.col("_last.value").alias("v_last"),
        F.col("_min.value").alias("vmin"),
        F.col("_min.ts").alias("t_min"),
        F.col("_max.value").alias("vmax"),
        F.col("_max.ts").alias("t_max"),
    )


def tier_delta(tier_df: DataFrame) -> DataFrame:
    """Bucket-over-bucket change per series: the monitoring-standard
    downsample→delta transform (how much did the series move between
    consecutive tier buckets?).

    Emits, per bucket: the previous bucket's average, the delta of exact
    integer milli-unit averages (NULL on each series' first bucket), and
    the exact microsecond gap to the previous bucket (one tier period when
    contiguous; larger when the series skipped buckets — rate consumers
    compute delta_mu / gap_us).

    ONE window pass over the series partition, no join; all arithmetic on
    exact integers (same canonicalization as anomaly_zscore), so the
    DuckDB oracle matches bit-for-bit. Cascades over any tier table.
    """
    u = F.floor(F.col("s1") / F.col("n") * 1000.0 + F.lit(0.5)).cast("long")
    w = (
        Window.partitionBy(*SERIES_COLS, "metric", "tier")
        .orderBy("bucket_start")
    )
    b = tier_df.select(
        *SERIES_COLS, "metric", "tier", "bucket_start", "n", u.alias("avg_mu")
    )
    prev_u = F.lag("avg_mu").over(w)
    prev_ts = F.lag("bucket_start").over(w)
    return b.select(
        *SERIES_COLS,
        "metric",
        "tier",
        "bucket_start",
        "n",
        "avg_mu",
        prev_u.alias("prev_avg_mu"),
        (F.col("avg_mu") - prev_u).alias("delta_mu"),
        F.when(
            prev_ts.isNotNull(),
            (
                F.unix_micros(F.col("bucket_start").cast("timestamp"))
                - F.unix_micros(prev_ts.cast("timestamp"))
            ),
        ).alias("gap_us"),
    )


def topk_series_daily(tier_df: DataFrame, k: int = 5) -> DataFrame:
    """Top-k most active (series, metric) rows per day (by total
    observation count).

    The operational "heavy hitters" report over the rollup tiers: which
    conversations/tools dominated each day. Exact, not sketched — at tier
    granularity the per-day series cardinality is already bounded by the
    rollup, so a full ranking is cheap; a count-min sketch is only needed
    upstream of the tiers, where dedup/LSH land first.

    Contract: ``tier_df`` is ONE tier's table (tier is not a grouping key,
    so a concatenation of tiers would double-count every observation), and
    the ranking granularity is (series, metric) — a series carrying M
    metrics occupies up to M of the k slots. Pre-aggregate over metric
    before calling if per-series slots are wanted.

    Plan: one hash agg (day × series) + one window ranking partitioned by
    day. Ties are deterministic: rank orders by (total_n DESC, series key
    ASC NULLS LAST) — a total order, and NULLS LAST matches DuckDB's
    default ASC null placement (Spark defaults to NULLS FIRST), so both
    engines agree on every boundary row even when a series key is NULL.
    """
    g = tier_df.groupBy(
        F.date_trunc("day", "bucket_start").alias("day"),
        *SERIES_COLS,
        "metric",
    ).agg(
        F.sum("n").alias("total_n"),
        F.count(F.lit(1)).alias("n_buckets"),
    )
    w = Window.partitionBy("day").orderBy(
        F.desc("total_n"),
        *[F.asc_nulls_last(c) for c in SERIES_COLS],
        F.asc_nulls_last("metric"),
    )
    return (
        g.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def anomaly_zscore(tier_df: DataFrame, k: float = 2.0) -> DataFrame:
    """Per-series z-score anomaly flags over tier buckets.

    The live counterpart of the reference's (dead) outlier predicate
    (csv2tsprofile main.go OutlierFilter — see operators/ingest.py
    `filter_outliers`): flag tier buckets whose average deviates more than
    ``k`` standard deviations from the series' bucket-average distribution.

    Determinism across engines (DuckDB oracle) is engineered, not hoped
    for: the bucket average is first canonicalized to exact integer
    MILLI-units (``floor(s1/n*1000 + 0.5)`` — s1 and n are exact ints, so
    the division is one correctly-rounded IEEE op and the floor is exact).
    The per-series moments are then INTEGER sums (order-independent under
    any partial aggregation; bounded: u <= 128e3 so u^2 <= 1.64e10, and
    1e6 buckets/series keeps SUM(u^2) < 2^53 — exact in BIGINT and in
    DOUBLE), and mean/variance/z are the same scalar IEEE expression on
    both engines — bit-identical, no order dependence anywhere.

    Plan: one window over the series partition (moments) + a projection —
    no join, no second shuffle; reuses the tier table's existing
    partitioning when cascaded.
    """
    u = F.floor(F.col("s1") / F.col("n") * 1000.0 + F.lit(0.5)).cast("long")
    w = Window.partitionBy(*SERIES_COLS, "metric", "tier")
    b = tier_df.select(
        *SERIES_COLS, "metric", "tier", "bucket_start", "n",
        u.alias("avg_mu"),
    )
    n_b = F.count(F.lit(1)).over(w)
    s = F.sum("avg_mu").over(w)
    q = F.sum(F.col("avg_mu") * F.col("avg_mu")).over(w)
    mean = s.cast("double") / n_b
    var = (q.cast("double") - s.cast("double") * s.cast("double") / n_b) / (
        n_b - 1
    )
    z = (F.col("avg_mu") - mean) / F.sqrt(var)
    return (
        b.select(
            *SERIES_COLS, "metric", "tier", "bucket_start", "n", "avg_mu",
            n_b.alias("n_buckets"),
            F.when((n_b > 1) & (var > 0), z).alias("z"),
        )
        .select(
            *SERIES_COLS, "metric", "tier", "bucket_start", "n", "avg_mu",
            "n_buckets",
            F.floor(F.col("z") * 1000000.0 + F.lit(0.5)).cast("long").alias("z_u"),
            F.coalesce(
                (F.abs(F.col("z")) > F.lit(k)).cast("int"), F.lit(0)
            ).alias("is_anomaly"),
        )
    )


def tier_transitions(tier_df: DataFrame) -> DataFrame:
    """Markov transition counts between consecutive tier buckets per series
    (continuous-aggregate analogue of the reference's chunk transitions),
    zero-seeded like counter.go:159-162. History is intentionally FIXED at
    1 (the previous tier bucket) — tier buckets are continuous aggregates,
    not reference chunks, so settings.history does not apply here; the
    deep-ident semantics live in transition_counts."""
    w = Window.partitionBy(*SERIES_COLS, "metric", "tier").orderBy("bucket_start")
    with_prev = tier_df.withColumn(
        "ident", F.coalesce(F.lag("state").over(w), F.lit(0)).cast("string")
    )
    counts = with_prev.groupBy(*SERIES_COLS, "metric", "tier", "ident", "state").agg(
        F.count(F.lit(1)).alias("cnt")
    ).withColumnRenamed("state", "next_state")
    w_row = Window.partitionBy(*SERIES_COLS, "metric", "tier", "ident")
    w_all = Window.partitionBy(*SERIES_COLS, "metric", "tier")
    row_sum = F.sum("cnt").over(w_row)
    total = F.sum("cnt").over(w_all)
    return counts.select(
        *SERIES_COLS,
        "metric",
        "tier",
        "ident",
        "next_state",
        "cnt",
        # reference op order: (cnt/row_sum)*100, not (100*cnt)/row_sum —
        # they differ in the final ulp on pairs like 23/40, flipping the
        # rounded percent (see operators/profile.py transition_probs)
        go_round_nonneg(F.col("cnt") / row_sum * F.lit(100.0))
        .cast("int")
        .alias("prob_pct"),
        go_round_nonneg(row_sum / total * F.lit(100.0)).cast("int").alias("step_prob"),
    )


def apply_ttl(
    tier_df: DataFrame, tier: str, settings_tiers: dict, watermark=None
) -> DataFrame:
    """TTL-driven expiry: keep buckets younger than the tier's TTL relative
    to the high watermark (north_rule retention). Storage-level deletion is
    plans/storage.delete_expired; this is the predicate.

    ``watermark`` may be a concrete timestamp (the retention plan passes the
    store manifest's watermark) or None, in which case the high watermark is
    derived IN-PLAN as a broadcast one-row aggregate joined back — a single
    job, no driver-side ``collect()`` round-trip (the join is a broadcast
    nested-loop of one row, not a shuffle)."""
    ttl_days = settings_tiers[tier]["ttl_days"]
    if watermark is not None:
        return tier_df.where(
            F.col("bucket_start")
            >= F.lit(watermark) - F.expr(f"INTERVAL {ttl_days} DAYS")
        )
    wm = tier_df.agg(F.max("bucket_start").alias("_ttl_wm"))
    return (
        tier_df.crossJoin(F.broadcast(wm))
        .where(
            F.col("bucket_start")
            >= F.col("_ttl_wm") - F.expr(f"INTERVAL {ttl_days} DAYS")
        )
        .drop("_ttl_wm")
    )
