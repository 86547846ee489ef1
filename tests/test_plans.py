"""Physical-plan regression tests: the properties that make the engine
scale are pinned here so a refactor cannot silently lose them.

Checked against `executedPlan` strings (Spark 4 formatted plans):
  * the incremental watermark predicate reaches the parquet scan
    (PushedFilters), so a run's scan cost is proportional to new data;
  * the whole profile pipeline reuses ONE hash exchange on the conv_id
    prefix — windows and groupBys all satisfy their clustering from the
    subset key, so no stage re-shuffles the data;
  * no accidental CartesianProduct / row-at-a-time Python UDF nodes in any
    registered batch query plan.
"""

import pytest
from pyspark.sql import functions as F

from tsprofiler_spark.config import Settings
from tsprofiler_spark.plans.pipeline import profile_pipeline
from tsprofiler_spark.sources.transcripts import synthesize_transcripts

SETTINGS = Settings(fix_bound=True, fixed_min=0.0, fixed_max=128.0, states=6)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def transcripts_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("plans") / "t.parquet")
    synthesize_transcripts(spark, n_convs=8, max_turns=60, seed=3).write.parquet(p)
    return p


def test_watermark_predicate_pushed_to_scan(spark, transcripts_path):
    t = spark.read.parquet(transcripts_path)
    new = t.where(F.col("ts") > F.lit("2025-01-01 00:30:00").cast("timestamp"))
    plan = _plan(new.select("conv_id", "ts"))
    assert "PushedFilters: [IsNotNull(ts), GreaterThan(ts," in plan
    # column pruning: the wide text column must not be read for this projection
    assert "ReadSchema: struct<conv_id:string,ts:timestamp>" in plan


def test_profile_pipeline_single_shuffle_per_branch(spark, transcripts_path):
    t = spark.read.parquet(transcripts_path)
    stages = profile_pipeline(t, SETTINGS, do_gap_fill=True, cache_chunks=False)
    plan = _plan(stages["profile"])
    # every window/groupBy after gap-fill clusters on a superset of the
    # conv_id partitioning, so each scan branch shuffles exactly once
    shuffles = plan.count("Exchange hashpartitioning")
    reused = plan.count("ReusedExchange")
    assert shuffles - reused <= 2, f"{shuffles} hash exchanges ({reused} reused)"
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python UDFs


def test_gapfill_bucketize_shares_locf_sort(spark, transcripts_path):
    """After gap-fill, ts is interpolated on the turn axis, so ordering by
    turn_idx alone is row-identical to (ts, turn_idx) — and gives bucketize
    the exact window spec of the LOCF value fill, so one whole-table sort
    serves both. Pins rows-equal AND the sort-count saving."""
    from tsprofiler_spark.operators.ingest import (
        derive_series,
        gap_fill,
        gap_fill_series,
    )
    from tsprofiler_spark.operators.profile import bucketize

    t = spark.read.parquet(transcripts_path)
    series = gap_fill_series(derive_series(gap_fill(t)))
    a = bucketize(series, 4)
    b = bucketize(series, 4, order_cols=("turn_idx",))
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    assert _plan(b).count("+- Sort ") == _plan(a).count("+- Sort ") - 1


def test_tiers_bootstrap_single_exchange(spark, transcripts_path):
    """The finest-tier stage shuffles the raw series exactly ONCE: the
    explicit series-key repartition in merge_transcript_batch satisfies the
    1m groupBy's clustering (subset of its keys), so EnsureRequirements
    inserts no aggregation exchange, and merge_tiers (which adds no shuffle
    of its own: every plan reaching it is series-key distributed) writes
    straight from the aggregation output. Pinned so a refactor can't
    silently reintroduce the second full-size shuffle."""
    from tsprofiler_spark.plans.retention import _finest_partials

    t = spark.read.parquet(transcripts_path)
    finest = _finest_partials(t).withColumn(
        "day", F.date_format(F.date_trunc("day", "bucket_start"), "yyyy-MM-dd")
    )
    plan = _plan(finest)
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_registered_queries_have_no_cartesian_or_python_rows(spark):
    """Every profiler-family driver query plans without cartesian products
    or per-row Python; pandas/Arrow nodes are allowed only in the parity/
    predictor/multimodal kernels (checked by name)."""
    from tsprofiler_spark.plans.entry_queries import QUERIES

    sf = "/root/testdata/sf0.001"
    for name, fn in QUERIES.items():
        plan = _plan(fn(spark, sf))
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name


def test_chunk_stage_dir_matches_cached_profile(spark, transcripts_path, tmp_path):
    """Staged-parquet chunk pinning (the cluster-scale mode used by
    tools/run_pipeline.py) must produce the exact same profile as the
    executor-heap cache mode, and its downstream plan must read the staged
    parquet (a FileScan), not re-execute the gap-fill subtree."""
    t = spark.read.parquet(transcripts_path)
    cached = profile_pipeline(t, SETTINGS, do_gap_fill=True)
    staged = profile_pipeline(
        t, SETTINGS, do_gap_fill=True,
        chunk_stage_dir=str(tmp_path / "chunk_stage"),
    )
    plan = _plan(staged["profile"])
    assert "chunk_stage" in plan  # downstream branches scan the staged copy
    a = sorted(cached["profile"].toJSON().collect())
    b = sorted(staged["profile"].toJSON().collect())
    cached["chunks"].unpersist()
    assert a == b


def test_profile_pipeline_builds_no_gap_filled_view_and_no_inference_job(
    spark, transcripts_path, tmp_path
):
    """profile_pipeline returns only the stages the profile reads (the
    text-carrying gap-filled view is gap_fill's, not a stage), and the
    staged chunk read-back passes the plan's schema: 5 jobs — the skew
    gate and the chunk write — where a footer-inferring read-back ran 6."""
    t = spark.read.parquet(transcripts_path)
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "staged-profile")
    try:
        stages = profile_pipeline(
            t, SETTINGS, do_gap_fill=True,
            chunk_stage_dir=str(tmp_path / "chunk_stage"),
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("staged-profile")
    assert 0 < len(jobs) <= 5, jobs
    assert set(stages) == {
        "series", "bucketed", "chunks", "states", "counts", "probs", "stats",
        "profile",
    }


def test_profile_pipeline_rejects_unknown_segment_turns(spark, transcripts_path):
    t = spark.read.parquet(transcripts_path)
    with pytest.raises(ValueError, match="segment_turns"):
        profile_pipeline(t, SETTINGS, segment_turns="segmented")


def test_bulk_path_compiles_once_per_session(spark, transcripts_path, tmp_path):
    """A second incremental_run + staged run_profile in the same session
    runs no Janino compile: the session's generated-class cache holds the
    bulk path's working set (at Spark's 100-entry default every class was
    evicted before its next use and each pass recompiled ~110 classes).

    AQE's runtime broadcast conversion is off for the test: which side of
    the profile's final join it broadcasts depends on which branch's stage
    finishes first, and each of the two plans compiles once per session —
    a variance of the planner, not of the class cache."""
    from tsprofiler_spark.plans.pipeline import run_profile
    from tsprofiler_spark.plans.retention import incremental_run
    from tsprofiler_spark.plans.storage import RollupStore

    codegen = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    t = spark.read.parquet(transcripts_path)

    def bulk_pass(i):
        store = RollupStore(spark, str(tmp_path / f"store{i}"))
        incremental_run(t, store, SETTINGS, expire=False)
        run_profile(
            t, SETTINGS, do_gap_fill=True, chunk_stage_dir=str(tmp_path / f"chunks{i}")
        ).write.parquet(str(tmp_path / f"profile{i}"))

    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        bulk_pass(0)
        compiles = codegen.METRIC_COMPILATION_TIME().getCount()
        bulk_pass(1)
    finally:
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    assert codegen.METRIC_COMPILATION_TIME().getCount() == compiles


def test_multi_metric_profile_end_to_end(spark, transcripts_path):
    """run_profile(metrics=...) yields one profile row per (series, metric)
    and the len_text slice is value-identical to the single-metric run."""
    from tsprofiler_spark.plans.pipeline import run_profile

    t = spark.read.parquet(transcripts_path)
    single = run_profile(t, SETTINGS, do_gap_fill=True, cache_chunks=False)
    multi = run_profile(
        t, SETTINGS, do_gap_fill=True, cache_chunks=False,
        metrics=("len_text", "n_words"),
    )
    assert set(
        r.metric for r in multi.select("metric").distinct().collect()
    ) == {"len_text", "n_words"}
    key = ["conv_id", "tool", "role", "metric"]
    sl = single.select(*key, "profile_json")
    ml = multi.where(F.col("metric") == "len_text").select(*key, "profile_json")
    assert sl.exceptAll(ml).count() == 0 and ml.exceptAll(sl).count() == 0


def test_driver_contract_shape():
    """The driver-facing registry: exactly 50 entries (== the gate budget,
    r3 verdict ask #3 — no sacrificial tail), every entry has an oracle,
    names resolve, riskiest-first order (new/red/no-r3-row queries lead),
    and every retired entry is explicitly excluded with the full registry
    still locally value-checkable via all_queries()."""
    import __spark_entry__ as entry

    q = entry.queries()
    o = entry.oracle_sql()
    assert len(q) == 50, "registry must exactly fill the 50-row gate budget"
    assert list(q) == entry._DRIVER_ORDER
    assert set(o) == set(q), "every registered query must be value-checked"
    first15 = list(q)[:15]
    for name in (
        "parity_profiles",  # r5: the full-document hash leads (riskiest-new)
        "parity_phases", "parity_phase_tx", "text_pack_sequences",
        "text_fingerprint", "sample_hash_split", "dedup_ngram_jaccard",
        "multimodal_features", "predictor_likeliness", "series_stats",
        "sim_ivf_kmeans_topk",
    ):
        assert name in first15, f"{name} must run before the heavy families"
    # retired entries stay out of the driver order but inside the local
    # harness's full registry (check_oracle runs all_queries())
    aq, ao = entry.all_queries()
    assert set(aq) == set(q) | entry._DRIVER_EXCLUDED
    assert set(q).isdisjoint(entry._DRIVER_EXCLUDED)
    assert list(aq)[:50] == entry._DRIVER_ORDER


def test_codec_plans_one_exchange_at_most(spark, transcripts_path, tmp_path):
    """The codec has one encoder. Over a store-read tier (already
    segment-contiguous and sorted) it plans no exchange; `compress_points`
    lays out any other input with exactly one hash exchange on the series
    key, and no groupBy + collect_list."""
    from tsprofiler_spark.operators.compress import (
        compress_points,
        compress_points_colocated,
    )
    from tsprofiler_spark.plans.retention import incremental_run
    from tsprofiler_spark.plans.storage import RollupStore

    store = RollupStore(spark, str(tmp_path / "s"))
    incremental_run(spark.read.parquet(transcripts_path), store, SETTINGS,
                    expire=False)
    points = store.read_tier("1m").select(
        "conv_id", "tool", "role", "metric", F.lit("1m").alias("tier"),
        "bucket_start", (F.col("s1") / F.col("n")).alias("avg"),
    )
    colocated = _plan(compress_points_colocated(points))
    assert "Exchange" not in colocated, colocated
    shuffled = _plan(compress_points(points))
    assert shuffled.count("Exchange") == 1, shuffled
    assert shuffled.count("Exchange hashpartitioning") == 1, shuffled
    assert "collect_list" not in shuffled, shuffled
