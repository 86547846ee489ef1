"""Structured Streaming ingest (streaming/ingest.py): a file-source stream
drained with availableNow through foreachBatch tier MERGEs must produce
tier tables identical to one batch incremental_run over the same data, and
restarting from the offset checkpoint must process only new files
(reference push-ingest analogue: profiler/profiler.go:63-65, 99-133)."""

import os

import pytest

from tsprofiler_spark.config import Settings
from tsprofiler_spark.plans.retention import incremental_run
from tsprofiler_spark.plans.storage import RollupStore
from tsprofiler_spark.sources.transcripts import synthesize_transcripts
from tsprofiler_spark.streaming import (
    process_microbatch,
    start_rollup_stream,
    stream_transcripts,
)

SETTINGS = Settings(fix_bound=True, fixed_min=0.0, fixed_max=128.0, states=6)


def _tier_rows(store, tier):
    df = store.read_tier(tier)
    return sorted(
        (r.conv_id, r.tool, r.role, r.metric, str(r.bucket_start), r.n, r.s1, r.vmin, r.vmax)
        for r in df.collect()
    )


@pytest.fixture()
def transcripts(spark):
    return synthesize_transcripts(
        spark, n_convs=5, max_turns=300, seed=9, step_seconds=600
    ).cache()


def test_stream_equals_batch_and_resumes(spark, transcripts, tmp_path):
    inbox = str(tmp_path / "inbox")
    os.makedirs(inbox)
    ckpt = str(tmp_path / "ckpt")

    first = transcripts.where("turn_idx < 150")
    second = transcripts.where("turn_idx >= 150")
    first.coalesce(1).write.parquet(os.path.join(inbox, "drop1"))

    stream_store = RollupStore(spark, str(tmp_path / "stream_store"))
    q = start_rollup_stream(
        stream_transcripts(spark, inbox + "/*", max_files_per_trigger=1),
        stream_store, SETTINGS, ckpt,
    )
    q.awaitTermination(120)

    batch_store = RollupStore(spark, str(tmp_path / "batch_store"))
    incremental_run(first, batch_store, SETTINGS, expire=False)
    for tier in ("1m", "1h", "1d"):
        assert _tier_rows(stream_store, tier) == _tier_rows(batch_store, tier)

    # drop more data; restarting from the same checkpoint must pick up ONLY
    # the new file and converge to the full-batch result
    second.coalesce(1).write.parquet(os.path.join(inbox, "drop2"))
    q2 = start_rollup_stream(
        stream_transcripts(spark, inbox + "/*", max_files_per_trigger=1),
        stream_store, SETTINGS, ckpt,
    )
    q2.awaitTermination(120)

    full_store = RollupStore(spark, str(tmp_path / "full_store"))
    incremental_run(transcripts, full_store, SETTINGS, expire=False)
    for tier in ("1m", "1h", "1d"):
        assert _tier_rows(stream_store, tier) == _tier_rows(full_store, tier)

    # the streaming manifest recorded per-batch lineage
    assert any(
        r["run_id"].startswith("stream-") for r in stream_store.manifest.runs
    )


def test_microbatch_replay_does_not_double_count(spark, transcripts, tmp_path):
    """foreachBatch is at-least-once: a crash between merge and checkpoint
    commit replays the micro-batch with the SAME batch_id. The snapshot
    commit + run_id dedupe must make the replay a no-op."""
    store = RollupStore(spark, str(tmp_path / "s"))
    process_microbatch(transcripts, 0, store)
    before = {t: _tier_rows(store, t) for t in ("1m", "1h", "1d")}
    wm_before = store.manifest.watermark

    # replay: same data, same batch_id (as Structured Streaming would)
    assert process_microbatch(transcripts, 0, store) == []
    for t in ("1m", "1h", "1d"):
        assert _tier_rows(store, t) == before[t], t
    assert store.manifest.watermark == wm_before
    assert len(store.manifest.runs) == 1

    # a NEW batch_id with new data still merges
    more = synthesize_transcripts(
        spark, n_convs=2, max_turns=50, seed=11, step_seconds=600
    )
    process_microbatch(more, 1, store)
    assert len(store.manifest.runs) == 2
    assert _tier_rows(store, "1m") != before["1m"]


def test_stateful_chunk_stream_equals_batch(spark, transcripts, tmp_path):
    """applyInPandasWithState chunking: partial chunk buffers must carry
    across micro-batches (maxFilesPerTrigger=1 forces the seam) and the
    emitted chunk states must equal the batch pipeline's chunk_states on
    the same data, incomplete trailing chunks pending in state."""
    from tsprofiler_spark.operators.ingest import derive_series
    from tsprofiler_spark.operators.profile import bucketize, chunk_stats, with_state
    from tsprofiler_spark.streaming.profile_stream import (
        CHUNK_OUTPUT_SCHEMA,
        stream_chunk_states,
    )

    settings = Settings(
        buffer_size=7,  # coprime with the 150-turn split: chunks straddle drops
        states=6, fix_bound=True, fixed_min=0.0, fixed_max=128.0,
    )
    inbox = str(tmp_path / "inbox")
    os.makedirs(inbox)
    transcripts.where("turn_idx < 150").coalesce(1).write.parquet(inbox + "/drop1")
    transcripts.where("turn_idx >= 150").coalesce(1).write.parquet(inbox + "/drop2")

    from tsprofiler_spark.streaming.ingest import TRANSCRIPTS_SCHEMA

    stream = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(inbox + "/*")
    )
    chunks_stream = stream_chunk_states(derive_series(stream), settings)
    q = (
        chunks_stream.writeStream.format("memory")
        .queryName("chunk_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.sql("SELECT * FROM chunk_stream")
    expected = with_state(
        chunk_stats(bucketize(derive_series(transcripts), settings.buffer_size), settings),
        settings,
    )

    def canon(df):
        return sorted(
            (
                r.conv_id, r.tool, r.role, r.metric, r.bucket_idx,
                str(r.bucket_start), r.n, round(r.s1, 6), round(r.chunk_avg, 9),
                round(r.current_avg, 9), round(r.stddev_sum, 6), int(r.state),
            )
            for r in df.collect()
        )

    exp_rows = canon(
        expected.select(
            "conv_id", "tool", "role", "metric", "bucket_idx", "bucket_start",
            "n", "s1", "chunk_avg", "current_avg", "stddev_sum", "state",
        )
    )
    got_rows = canon(got)
    assert len(got_rows) > 0
    assert got_rows == exp_rows
    # prove the seam mattered: some series' drop1 row count is not a chunk
    # multiple, so a chunk straddled the two micro-batches and its buffer
    # HAD to carry through state for the totals above to match the batch
    drop1_counts = (
        derive_series(transcripts.where("turn_idx < 150"))
        .groupBy("conv_id", "tool", "role", "metric")
        .count()
        .collect()
    )
    assert any(r["count"] % settings.buffer_size != 0 for r in drop1_counts)
    assert q.lastProgress is not None  # the stream actually ran batches


def test_idle_series_state_eviction(spark, tmp_path):
    """EventTimeTimeout eviction in stream_chunk_states: a series that goes
    idle forever (conversation churn — every conv_id eventually does) must
    have its partial-buffer state REMOVED once the watermark passes its
    last event + idle_timeout, or the state store grows without bound on
    an unbounded stream. The evicted partial emits nothing — the same
    contract as batch, which discards a trailing incomplete chunk — so
    stream output still equals the batch pipeline's chunk states."""
    import datetime as dt
    import json

    from tsprofiler_spark.operators.ingest import derive_series
    from tsprofiler_spark.operators.profile import bucketize, chunk_stats, with_state
    from tsprofiler_spark.streaming.ingest import TRANSCRIPTS_SCHEMA
    from tsprofiler_spark.streaming.profile_stream import stream_chunk_states

    settings = Settings(
        buffer_size=4, states=6, fix_bound=True, fixed_min=0.0, fixed_max=128.0
    )
    base = dt.datetime(2026, 1, 1, 12, 0, 0)
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]

    def row(conv, turn, minute):
        return (conv, turn, "assistant", "abcd", "search",
                base + dt.timedelta(minutes=minute))

    # drop1: series A — 3 rows, a PARTIAL buffer (< buffer_size) that would
    # sit in state forever without eviction
    drop1 = [row("a", t, t) for t in range(3)]
    # drop2: series B two hours later — advances the watermark far past
    # A's last event + idle_timeout
    drop2 = [row("b", t, 120 + t) for t in range(4)]
    # drop3: one more B row — the batch whose STARTING watermark (from
    # drop2's event times) is past A's timeout: eviction fires here
    drop3 = [row("b", 4, 130)]

    inbox = str(tmp_path / "einbox")
    os.makedirs(inbox)
    for i, d in enumerate((drop1, drop2, drop3)):
        # explicit schema: inference would write turn_idx as INT64, which
        # the int-typed streaming read then rejects
        spark.createDataFrame(d, TRANSCRIPTS_SCHEMA).coalesce(1).write.parquet(
            inbox + f"/drop{i + 1}"
        )

    stream = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(inbox + "/*")
    )
    series = derive_series(stream).withWatermark("ts", "1 minute")
    out = stream_chunk_states(series, settings, idle_timeout="10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("evict_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "eckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    progs = [json.loads(p.json) if hasattr(p, "json") else p
             for p in q.recentProgress]
    state_rows = [
        p["stateOperators"][0]["numRowsTotal"]
        for p in progs
        if p.get("stateOperators")
    ]
    removed = sum(
        p["stateOperators"][0].get("numRowsRemoved", 0)
        for p in progs
        if p.get("stateOperators")
    )
    # state grew to both series (a + b), then a's slot was provably removed
    assert max(state_rows) == 2, state_rows
    assert state_rows[-1] == 1, state_rows
    assert removed >= 1, progs

    # output == batch: only B's completed chunk; A's evicted partial emits
    # nothing, exactly like batch's incomplete-trailing-chunk discard
    got = sorted(
        (r.conv_id, r.bucket_idx, r.n, r.s1, int(r.state))
        for r in spark.sql("SELECT * FROM evict_stream").collect()
    )
    all_rows = spark.createDataFrame(drop1 + drop2 + drop3, cols)
    expected = with_state(
        chunk_stats(
            bucketize(derive_series(all_rows), settings.buffer_size), settings
        ),
        settings,
    )
    want = sorted(
        (r.conv_id, r.bucket_idx, r.n, r.s1, int(r.state))
        for r in expected.collect()
    )
    assert got == want and len(got) == 1
    assert got[0][0] == "b"


def test_streaming_ttl_expiry_and_late_resurrection(spark, transcripts, tmp_path):
    """A streaming-only store with ``tiers_cfg`` expires after each batch
    (without it, TTLs silently never apply to pure-stream deployments).
    The full ADVICE scenario then runs stream-side: expiry drops a 1m day,
    two late micro-batches resurrect it — the coarse tiers must stay
    additive through BOTH (durable partial flag + per-batch expiry both
    re-arming the machinery)."""
    from pyspark.sql import functions as F

    cfg = {"1m": {"ttl_days": 1}, "1h": {"ttl_days": 365}, "1d": {"ttl_days": 365}}
    store = RollupStore(spark, str(tmp_path / "s"))
    process_microbatch(transcripts, 0, store, tiers_cfg=cfg)
    expired = sorted(set(store.manifest.tiers["1h"]) - set(store.manifest.tiers["1m"]))
    assert expired, "per-batch expiry must prune the 1m tier"
    day = expired[0]

    def n_1h():
        return (
            store.read_tier("1h").where(F.col("day") == day)
            .agg(F.sum("n")).collect()[0][0]
        )

    before = n_1h()
    day_rows = transcripts.where(F.to_date("ts") == day)
    late1 = day_rows.where(F.col("turn_idx") % 2 == 0).limit(7)
    late2 = day_rows.where(F.col("turn_idx") % 2 == 1).limit(5)
    n1, n2 = late1.count(), late2.count()
    assert n1 > 0 and n2 > 0
    process_microbatch(late1, 1, store, tiers_cfg=cfg)
    process_microbatch(late2, 2, store, tiers_cfg=cfg)
    assert n_1h() == before + n1 + n2
    # per-batch expiry re-dropped the resurrected (partial) 1m day: the day
    # is older than the 1m TTL cutoff, so it never lingers past its batch
    assert day not in store.manifest.tiers.get("1m", {})
    assert day not in store.manifest.partial_days("1m")


def test_idle_timeout_interval_parsing():
    """Spark-style interval spellings parse; junk raises a message naming
    the accepted forms instead of a bare split/KeyError."""
    import pytest as _pytest

    from tsprofiler_spark.streaming.profile_stream import _parse_interval_ms

    assert _parse_interval_ms("30 minutes") == 30 * 60_000
    assert _parse_interval_ms("1.5 hours") == 5_400_000
    assert _parse_interval_ms("90s") == 90_000
    assert _parse_interval_ms("30 min") == 30 * 60_000
    assert _parse_interval_ms(" 2 days ") == 2 * 86_400_000
    for bad in ("minutes", "30", "30 fortnights", "x minutes"):
        with _pytest.raises(ValueError, match="expected"):
            _parse_interval_ms(bad)


def test_legacy_stream_run_id_migration_guard(spark, transcripts, tmp_path):
    """A store written under the pre-scoped ``stream-{batch_id}`` run-id
    scheme, resumed under the scoped scheme: the replayed in-flight batch
    carries a new run_id the manifest has never seen, and without the
    opt-in legacy guard the additive MERGE double-folds that one batch."""
    from pyspark.sql import functions as F

    store = RollupStore(spark, str(tmp_path / "mig"))
    # batch 3 committed by the OLD scheme (stream_id default "stream")
    process_microbatch(transcripts, 3, store)
    n_before = store.read_tier("1m").agg(F.sum("n")).collect()[0][0]

    # resume under the NEW scoped scheme replays batch 3
    scoped = "stream-deadbeef1234"
    # without the guard: double-fold (this is the failure the flag fixes)
    # with the guard: recognized as the legacy-committed batch -> no-op
    assert (
        process_microbatch(
            transcripts, 3, store, stream_id=scoped,
            legacy_stream_ids=("stream",),
        )
        == []
    )
    assert store.read_tier("1m").agg(F.sum("n")).collect()[0][0] == n_before

    # a genuinely NEW batch id under the scoped scheme still merges even
    # with the guard on
    more = synthesize_transcripts(
        spark, n_convs=2, max_turns=40, seed=21, step_seconds=600
    )
    assert (
        process_microbatch(
            more, 4, store, stream_id=scoped, legacy_stream_ids=("stream",)
        )
        != []
    )


def test_late_only_batch_never_lowers_watermark(spark, transcripts, tmp_path):
    """A micro-batch of ONLY late rows (all ts below the committed
    watermark) must re-MERGE its tiers but keep the high watermark — a
    lowered watermark would make a later batch-incremental run on the same
    store re-read and double-fold the (new_wm, old_wm] range."""
    from pyspark.sql import functions as F

    store = RollupStore(spark, str(tmp_path / "wm"))
    process_microbatch(transcripts, 0, store)
    wm_high = store.manifest.watermark
    assert wm_high is not None

    cutoff = transcripts.select(
        F.min("ts").cast("string")
    ).collect()[0][0]
    late = transcripts.orderBy("ts").limit(40)  # strictly-early slice
    assert late.agg(F.max("ts")).collect()[0][0].isoformat(sep=" ") < wm_high

    res = process_microbatch(late, 1, store)
    assert res != []  # late data DID merge
    assert store.manifest.watermark == wm_high  # watermark never moved back
    assert cutoff <= wm_high


def test_distinct_streams_over_one_store_do_not_collide(spark, transcripts, tmp_path):
    """batch_id is only unique per checkpoint: two queries sharing one
    store (or a new query after a checkpoint reset) both deliver a
    batch_id 0. The run-dedup key must include the stream identity
    (Delta-style txnAppId) — with a bare ``stream-0`` key the second
    query's first batch is silently skipped as a "replay" while its
    source offsets still commit: permanent data loss."""
    from pyspark.sql import functions as F

    store = RollupStore(spark, str(tmp_path / "s"))
    cutoff = transcripts.agg(
        F.expr("percentile(cast(ts as double), 0.5)")
    ).collect()[0][0]
    first = transcripts.where(F.col("ts").cast("double") <= cutoff)
    second = transcripts.where(F.col("ts").cast("double") > cutoff)

    assert process_microbatch(first, 0, store, stream_id="q1") != []
    n_after_q1 = store.read_tier("1m").agg(F.sum("n")).collect()[0][0]
    # same batch_id, DIFFERENT stream: must merge, not be skipped
    assert process_microbatch(second, 0, store, stream_id="q2") != []
    n_after_q2 = store.read_tier("1m").agg(F.sum("n")).collect()[0][0]
    assert n_after_q2 > n_after_q1
    # true replay (same stream, same batch) still a no-op
    assert process_microbatch(first, 0, store, stream_id="q1") == []
    assert store.read_tier("1m").agg(F.sum("n")).collect()[0][0] == n_after_q2


@pytest.mark.parametrize("source", ["cached", "parquet"])
def test_late_microbatch_job_budget(spark, transcripts, tmp_path, source):
    """A small late micro-batch into a committed day runs a fixed handful
    of Spark jobs — the watermark scan and ONE write of all three tiers
    with its shuffle stages — and no schema-inference, read-back count,
    cache-pinning or empty-check jobs. Its coarse days coalesce to one
    task: one file per tier for the one touched day. Pinned for a cached
    batch and for the same batch read back from parquet: a plan that
    consumed one exchange in several branches re-runs it per branch on
    cached input (Spark re-instances a self-unioned in-memory relation)."""
    from pyspark.sql import functions as F

    store = RollupStore(spark, str(tmp_path / "s"))
    process_microbatch(transcripts, 0, store)
    day = min(store.manifest.tiers["1m"])
    late = transcripts.where(
        (F.to_date("ts") == day) & (F.col("turn_idx") % 17 == 0)
    ).withColumn("turn_idx", F.col("turn_idx") + 100_000)
    if source == "parquet":
        late.write.parquet(str(tmp_path / "late"))
        late = spark.read.parquet(str(tmp_path / "late"))

    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", f"late-microbatch-{source}")
    try:
        lineage = process_microbatch(late, 1, store)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(f"late-microbatch-{source}")
    assert lineage and 0 < len(jobs) <= 5, jobs

    run_id = store.manifest.runs[-1]["run_id"]
    coarse_files = [
        f
        for tier in ("1h", "1d")
        for d, v in store.manifest.tiers[tier].items()
        if v == run_id
        for f in store._day_files(tier, d, v)
    ]
    assert 0 < len(coarse_files) <= 2, coarse_files


def test_empty_microbatch_commits_nothing(spark, transcripts, tmp_path):
    """An empty micro-batch returns no lineage and leaves the manifest's
    runs and watermark untouched (on disk too)."""
    store = RollupStore(spark, str(tmp_path / "s"))
    process_microbatch(transcripts, 0, store)
    runs, wm = list(store.manifest.runs), store.manifest.watermark

    assert process_microbatch(transcripts.where("false"), 1, store) == []
    for m in (store.manifest, RollupStore(spark, store.base).manifest):
        assert (m.runs, m.watermark) == (runs, wm)
    assert not store.manifest.has_run("stream-1")


@pytest.mark.parametrize(
    "tiers_cfg",
    [
        {"1m": {"ttl": 30}},
        {"1h": {"ttl_days": "30"}},
        {"1d": 3650},
        {"1m": {"ttl_days": 30}, "1h": None},
    ],
)
def test_start_rollup_stream_rejects_malformed_tiers_cfg(
    spark, transcripts, tmp_path, tiers_cfg
):
    """A malformed tiers_cfg fails at the call, before anything runs — not
    with a KeyError from the expiry after a merge has committed: the stream
    never starts, and a batch run or a directly driven micro-batch commits
    nothing."""
    inbox = str(tmp_path / "inbox")
    os.makedirs(inbox)
    ckpt = str(tmp_path / "ckpt")
    store = RollupStore(spark, str(tmp_path / "s"))
    with pytest.raises(ValueError, match="ttl_days"):
        start_rollup_stream(
            stream_transcripts(spark, inbox), store, SETTINGS, ckpt,
            tiers_cfg=tiers_cfg,
        )
    assert not os.path.exists(ckpt)
    assert not spark.streams.active

    with pytest.raises(ValueError, match="ttl_days"):
        incremental_run(transcripts, store, SETTINGS, tiers_cfg=tiers_cfg)
    with pytest.raises(ValueError, match="ttl_days"):
        process_microbatch(transcripts, 0, store, tiers_cfg=tiers_cfg)
    for m in (store.manifest, RollupStore(spark, store.base).manifest):
        assert m.runs == []
    assert not os.path.exists(store.base) or not [
        d for d in os.listdir(store.base) if d.startswith("tier=")
    ]


def test_stream_chunk_states_rejects_dynamic_bounds(spark, tmp_path):
    """Streaming chunking discretizes against fixed bounds only: without
    fix_bound it raises at the call (a real check, not an `assert` that
    ``python -O`` strips)."""
    from tsprofiler_spark.operators.ingest import derive_series
    from tsprofiler_spark.streaming.profile_stream import stream_chunk_states

    inbox = str(tmp_path / "inbox")
    os.makedirs(inbox)
    series = derive_series(stream_transcripts(spark, inbox))
    with pytest.raises(ValueError, match="fix_bound"):
        stream_chunk_states(series, Settings(fix_bound=False))
