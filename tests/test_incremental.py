"""Resumability / MERGE idempotency (FIXTURES.md F6): split-run == single
run; re-running the same window is a no-op."""

import os

import pytest
from pyspark.sql import functions as F

from tsprofiler_spark.config import Settings
from tsprofiler_spark.plans.retention import incremental_run
from tsprofiler_spark.plans.storage import RollupStore
from tsprofiler_spark.sources.transcripts import synthesize_transcripts

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
        spark, n_convs=6, max_turns=400, seed=5, step_seconds=600
    ).cache()


def test_split_run_equals_single_run(spark, transcripts, tmp_path):
    cutoff = transcripts.agg(F.expr("percentile(cast(ts as double), 0.5)")).collect()[0][0]
    t1 = transcripts.where(F.col("ts").cast("double") <= cutoff)
    t2 = transcripts  # run 2 sees everything; watermark filters to the delta

    split_store = RollupStore(spark, str(tmp_path / "split"))
    r1 = incremental_run(t1, split_store, SETTINGS, expire=False)
    assert r1["new_rows"] > 0
    r2 = incremental_run(t2, split_store, SETTINGS, expire=False)
    assert r2["new_rows"] > 0

    single_store = RollupStore(spark, str(tmp_path / "single"))
    incremental_run(transcripts, single_store, SETTINGS, expire=False)

    for tier in ("1m", "1h", "1d"):
        assert _tier_rows(split_store, tier) == _tier_rows(single_store, tier), tier


def test_rerun_is_noop(spark, transcripts, tmp_path):
    store = RollupStore(spark, str(tmp_path / "s"))
    incremental_run(transcripts, store, SETTINGS, expire=False)
    before = {t: _tier_rows(store, t) for t in ("1m", "1h", "1d")}
    again = incremental_run(transcripts, store, SETTINGS, expire=False)
    assert again["new_rows"] == 0
    for t in ("1m", "1h", "1d"):
        assert _tier_rows(store, t) == before[t]


def test_manifest_lineage(spark, transcripts, tmp_path):
    store = RollupStore(spark, str(tmp_path / "s"))
    res = incremental_run(transcripts, store, SETTINGS, expire=False)
    assert os.path.exists(store.manifest.path)
    m = RollupStore(spark, str(tmp_path / "s")).manifest
    assert m.watermark is not None
    assert len(m.runs) == 1
    parts = m.runs[0]["partitions"]
    assert parts and all(p["rows"] > 0 and p["bytes"] > 0 for p in parts)
    tiers = {p["tier"] for p in parts}
    assert tiers == {"1m", "1h", "1d"}


def test_ttl_expiry_drops_old_partitions(spark, transcripts, tmp_path):
    store = RollupStore(spark, str(tmp_path / "s"))
    incremental_run(
        transcripts,
        store,
        SETTINGS,
        tiers_cfg={"1m": {"ttl_days": 1}, "1h": {"ttl_days": 365}, "1d": {"ttl_days": 365}},
        expire=True,
    )
    kept_1m = {d[4:] for d in os.listdir(str(tmp_path / "s" / "tier=1m"))}
    all_days = {d[4:] for d in os.listdir(str(tmp_path / "s" / "tier=1h"))}
    assert len(kept_1m) < len(all_days)  # 1m tier expired, 1h kept


def test_crash_before_commit_then_replay(spark, transcripts, tmp_path):
    """Simulate a crash AFTER tier staging but BEFORE the manifest commit:
    the staged day versions exist on disk but are invisible (no pointers);
    a full replay of the same batch must converge to exactly the
    single-run result — no double counts, no orphan visibility."""
    from pyspark.sql import functions as F

    from tsprofiler_spark.operators.rollup import tier_partials
    from tsprofiler_spark.plans.retention import (
        merge_transcript_batch,
        touched_days,
    )
    from tsprofiler_spark.operators.ingest import derive_series

    store = RollupStore(spark, str(tmp_path / "s"))
    wm, affected = transcripts.agg(F.max("ts"), touched_days()).collect()[0]
    affected = [d.isoformat() for d in affected]

    # "crashed" attempt: stage every tier under the SAME run_id the real
    # batch will use, then stop — nothing committed
    run_id = "stream-7"
    _lin, ptrs = store.merge_tiers(
        {"1m": tier_partials(derive_series(transcripts), "1m")},
        run_id, affected=affected,
    )
    assert store.read_tier("1m") is None  # staged versions are invisible
    assert all(
        os.path.isdir(os.path.join(str(tmp_path / "s"), "tier=1m", f"day={d}", f"v={run_id}"))
        for d in ptrs["1m"]
    )

    # replay (as foreachBatch would after restart, same batch_id -> run_id)
    merge_transcript_batch(
        transcripts, store, run_id, wm.isoformat(sep=" "), affected=affected
    )

    ref = RollupStore(spark, str(tmp_path / "ref"))
    merge_transcript_batch(
        transcripts, ref, run_id, wm.isoformat(sep=" "), affected=affected
    )
    for tier in ("1m", "1h", "1d"):
        assert _tier_rows(store, tier) == _tier_rows(ref, tier), tier
    assert len(store.manifest.runs) == 1


def test_compaction_preserves_data_and_reduces_files(spark, transcripts, tmp_path):
    """compact_tier: value-identical day rewrite into the size-ideal file
    count, atomic pointer swap, superseded version GC'd, replay a no-op."""
    store = RollupStore(spark, str(tmp_path / "c"))
    # fragment the days on purpose: without AQE coalescing, the MERGE
    # writes one file per shuffle partition that holds rows of a day
    coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(coalesce)
    spark.conf.set(coalesce, "false")
    try:
        incremental_run(transcripts, store, SETTINGS, expire=False)
    finally:
        spark.conf.set(coalesce, prev)
    before = _tier_rows(store, "1m")
    day0, ver0 = sorted(store.manifest.tiers["1m"].items())[0]
    files_before = len(store._day_files("1m", day0, ver0))
    assert files_before > 1  # MERGE writes ~shuffle.partitions files per day

    lineage = store.compact_tier("1m", "compact-1", target_bytes=1 << 30)
    assert lineage and all(l["compacted_to_files"] == 1 for l in lineage)
    day_new, ver_new = sorted(store.manifest.tiers["1m"].items())[0]
    assert (day_new, ver_new) == (day0, "compact-1")
    assert len(store._day_files("1m", day0, "compact-1")) == 1
    assert not os.path.isdir(store._day_dir("1m", day0, ver0))  # old GC'd
    assert _tier_rows(store, "1m") == before  # byte-identical data

    # replayed maintenance run is a committed no-op
    assert store.compact_tier("1m", "compact-1", target_bytes=1 << 30) == []
    # already-ideal days are skipped by the size heuristic
    assert store.compact_tier("1m", "compact-2", target_bytes=1 << 30) == []


def test_lineage_rows_match_committed_versions(spark, transcripts, tmp_path):
    """Lineage row counts come from the staged files' parquet footers, not
    from a Spark read-back: each must equal a count() of the committed
    version it describes — for a bootstrap run, a merge into committed
    days, and a compaction."""
    store = RollupStore(spark, str(tmp_path / "f"))

    def check_last_run():
        run = store.manifest.runs[-1]
        assert run["partitions"]
        for p in run["partitions"]:
            committed = store.read_versions(p["tier"], {p["day"]: run["run_id"]})
            assert p["rows"] == committed.count() > 0, (run["run_id"], p)

    cutoff = transcripts.agg(F.expr("percentile(cast(ts as double), 0.5)")).collect()[0][0]
    early = transcripts.where(F.col("ts").cast("double") <= cutoff)
    incremental_run(early, store, SETTINGS, expire=False)
    check_last_run()
    incremental_run(transcripts, store, SETTINGS, expire=False)
    check_last_run()
    store.compact_tier("1h", "compact-1", target_bytes=1 << 30, slack=0)
    check_last_run()
    assert len(store.manifest.runs) == 3


def test_merge_tiers_rejects_staged_day_outside_affected(spark, transcripts, tmp_path):
    """The staged (tier, day) dirs must all lie in ``affected``: a day
    outside it never had its committed rows unioned in, so committing it
    would drop them. The MERGE raises and leaves nothing staged."""
    from tsprofiler_spark.operators.ingest import derive_series
    from tsprofiler_spark.operators.rollup import tier_partials
    from tsprofiler_spark.plans.retention import scan_batch

    store = RollupStore(spark, str(tmp_path / "g"))
    days = scan_batch(transcripts)[2]
    assert len(days) >= 2, "fixture must span multiple days"
    with pytest.raises(ValueError, match="not covered by affected"):
        store.merge_tiers(
            {"1m": tier_partials(derive_series(transcripts), "1m")},
            "guard-1", affected=days[1:],
        )
    assert not os.path.exists(os.path.join(store.base, "_staging-guard-1"))
    assert store.read_tier("1m") is None


def test_merged_days_keep_one_blob_per_segment(spark, transcripts, tmp_path):
    """Late rows merged into committed days leave every tier's segments
    whole: each (series, metric, tier, day) segment lies in one staged file,
    so the no-shuffle codec encoder emits exactly one blob per segment key,
    as many as compress_points. With AQE coalescing off, 8 shuffle
    partitions stand in for a day larger than one advisory partition."""
    from tsprofiler_spark.operators.compress import (
        SEGMENT_KEY,
        compress_points,
        compress_points_colocated,
    )
    from tsprofiler_spark.plans.retention import merge_transcript_batch

    confs = {
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.shuffle.partitions": "8",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        store = RollupStore(spark, str(tmp_path / "s"))
        incremental_run(
            transcripts.where(F.col("turn_idx") % 2 == 0), store, SETTINGS,
            expire=False,
        )
        late = transcripts.where(F.col("turn_idx") % 2 == 1)
        merge_transcript_batch(late, store, "late-1", store.manifest.watermark)
        for tier in ("1m", "1h", "1d"):
            points = store.read_tier(tier).select(
                "conv_id", "tool", "role", "metric", F.lit(tier).alias("tier"),
                "bucket_start", (F.col("s1") / F.col("n")).alias("avg"),
            )
            keys = [
                tuple(r)
                for r in compress_points_colocated(points).select(*SEGMENT_KEY).collect()
            ]
            assert len(keys) == len(set(keys)), tier
            assert len(keys) == compress_points(points).count(), tier
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_read_tier_day_range_prunes_paths(spark, transcripts, tmp_path):
    """read_tier(start_day, end_day) prunes at the path level: the plan's
    file index holds only the requested days."""
    store = RollupStore(spark, str(tmp_path / "p"))
    incremental_run(transcripts, store, SETTINGS, expire=False)
    days = sorted(store.manifest.tiers["1m"])
    assert len(days) >= 2, "fixture must span multiple days"
    one = store.read_tier("1m", start_day=days[0], end_day=days[0])
    assert one.select("day").distinct().collect()[0][0] == days[0]
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert f"day={days[1]}" not in plan
    full = store.read_tier("1m")
    assert one.count() < full.count()
    assert store.read_tier("1m", start_day="2999-01-01") is None


def test_late_row_after_1m_expiry_preserves_coarse_tiers(spark, transcripts, tmp_path):
    """A late row for a day already TTL-expired out of the 1m tier (tier
    TTLs differ: 1m expires first, 1h/1d retain the day) must fold
    ADDITIVELY into the surviving 1h/1d day rollups (the day is one of
    merge_tiers' ``additive_days``). Rebuilding those days from the merged
    1m content — which for an expired day is the late rows ALONE — would
    silently destroy months of committed coarse-tier history."""
    from tsprofiler_spark.plans.retention import merge_transcript_batch

    store = RollupStore(spark, str(tmp_path / "s"))
    incremental_run(
        transcripts,
        store,
        SETTINGS,
        tiers_cfg={"1m": {"ttl_days": 1}, "1h": {"ttl_days": 365}, "1d": {"ttl_days": 365}},
        expire=True,
    )
    expired_days = sorted(
        set(store.manifest.tiers["1h"]) - set(store.manifest.tiers["1m"])
    )
    assert expired_days, "fixture must expire at least one 1m day"
    day = expired_days[0]

    def day_totals(tier, d):
        df = store.read_tier(tier).where(F.col("day") == d)
        r = df.agg(F.sum("n"), F.sum("s1")).collect()[0]
        return (r[0] or 0, r[1] or 0.0)

    before_1h = day_totals("1h", day)
    before_1d = day_totals("1d", day)
    assert before_1h[0] > 0

    late = transcripts.where(F.to_date("ts") == day).limit(7)
    late_n = late.count()
    assert late_n > 0
    wm = store.manifest.watermark
    res = merge_transcript_batch(late, store, "late-resurrect-1", wm)
    assert res  # the late batch DID merge

    after_1h = day_totals("1h", day)
    after_1d = day_totals("1d", day)
    # additive: original history + the late rows, never the late rows alone
    assert after_1h[0] == before_1h[0] + late_n, (before_1h, after_1h, late_n)
    assert after_1d[0] == before_1d[0] + late_n
    # other retained days untouched
    other = [d for d in store.manifest.tiers["1h"] if d != day][0]
    assert day_totals("1h", other)[0] > 0
    # the resurrected day is durably flagged partial on the 1m tier
    assert day in store.manifest.partial_days("1m")


def test_second_late_batch_after_expiry_preserves_coarse_tiers(
    spark, transcripts, tmp_path
):
    """Durability of the resurrected-day state: after the FIRST late batch
    recreates a committed 1m version for a TTL-expired day, a SECOND late
    batch for the same day no longer looks resurrected by pointer presence
    alone — without the manifest's per-day `partial` flag it took the
    replace path and rebuilt the 1h/1d day from staged 1m content that
    lacks the expired history (permanent coarse-tier loss on the streaming
    path, which never re-expires between batches). Both late batches must
    fold additively, and only THIS batch's increment may cascade for a
    partial day (cascading the staged 1m content would double-count the
    first batch's rows)."""
    from tsprofiler_spark.plans.retention import merge_transcript_batch

    store = RollupStore(spark, str(tmp_path / "s"))
    incremental_run(
        transcripts,
        store,
        SETTINGS,
        tiers_cfg={"1m": {"ttl_days": 1}, "1h": {"ttl_days": 365}, "1d": {"ttl_days": 365}},
        expire=True,
    )
    expired_days = sorted(
        set(store.manifest.tiers["1h"]) - set(store.manifest.tiers["1m"])
    )
    assert expired_days
    day = expired_days[0]

    def day_totals(tier, d):
        df = store.read_tier(tier).where(F.col("day") == d)
        r = df.agg(F.sum("n"), F.sum("s1")).collect()[0]
        return (r[0] or 0, r[1] or 0.0)

    before_1h = day_totals("1h", day)
    before_1d = day_totals("1d", day)

    day_rows = transcripts.where(F.to_date("ts") == day)
    late1 = day_rows.where(F.col("turn_idx") % 2 == 0).limit(7)
    late2 = day_rows.where(F.col("turn_idx") % 2 == 1).limit(5)
    n1, n2 = late1.count(), late2.count()
    assert n1 > 0 and n2 > 0
    wm = store.manifest.watermark

    merge_transcript_batch(late1, store, "late-1", wm)
    # reload the manifest from disk between batches: the flag must be
    # durable, not an in-memory artifact (streaming restart scenario)
    store2 = RollupStore(spark, str(tmp_path / "s"))
    assert day in store2.manifest.partial_days("1m")
    merge_transcript_batch(late2, store2, "late-2", wm)

    store = store2
    after_1h = day_totals("1h", day)
    after_1d = day_totals("1d", day)
    assert after_1h[0] == before_1h[0] + n1 + n2, (before_1h, after_1h, n1, n2)
    assert after_1d[0] == before_1d[0] + n1 + n2
    # the day stays flagged for every future late batch
    assert day in store.manifest.partial_days("1m")
    # ... until it TTL-expires out of 1m again, which clears the flag
    store.expire("1m", 1)
    assert day not in store.manifest.tiers.get("1m", {})
    assert day not in store.manifest.partial_days("1m")


def test_partial_day_with_coarse_pointers_gone_takes_replace_path(
    spark, transcripts, tmp_path
):
    """A partial-flagged 1m day whose 1h/1d pointers were later dropped
    (e.g. a selective coarse-tier expire) has nothing left to preserve:
    the merge must REBUILD the coarse day from the COMPLETE staged 1m
    content (all surviving late batches), not fold only the newest
    batch's increment into nothing — that would silently drop the earlier
    late rows still committed in 1m."""
    from tsprofiler_spark.plans.retention import merge_transcript_batch

    store = RollupStore(spark, str(tmp_path / "s"))
    incremental_run(
        transcripts,
        store,
        SETTINGS,
        tiers_cfg={"1m": {"ttl_days": 1}, "1h": {"ttl_days": 365}, "1d": {"ttl_days": 365}},
        expire=True,
    )
    day = sorted(set(store.manifest.tiers["1h"]) - set(store.manifest.tiers["1m"]))[0]
    day_rows = transcripts.where(F.to_date("ts") == day)
    late1 = day_rows.where(F.col("turn_idx") % 2 == 0).limit(7)
    late2 = day_rows.where(F.col("turn_idx") % 2 == 1).limit(5)
    n1, n2 = late1.count(), late2.count()
    wm = store.manifest.watermark
    merge_transcript_batch(late1, store, "late-1", wm)
    assert day in store.manifest.partial_days("1m")

    # selective coarse expiry: the day's 1h/1d pointers vanish while the
    # (partial) 1m day and its flag survive
    store.manifest.drop_days("1h", [day])
    store.manifest.drop_days("1d", [day])
    assert day in store.manifest.partial_days("1m")  # 1m flag untouched

    merge_transcript_batch(late2, store, "late-2", wm)
    one_m = store.read_tier("1m").where(F.col("day") == day)
    n_1m = one_m.agg(F.sum("n")).collect()[0][0]
    n_1h = store.read_tier("1h").where(F.col("day") == day).agg(F.sum("n")).collect()[0][0]
    n_1d = store.read_tier("1d").where(F.col("day") == day).agg(F.sum("n")).collect()[0][0]
    # every tier agrees on the day's surviving content: both late batches,
    # never the newest increment alone
    assert n_1m == n1 + n2
    assert n_1h == n1 + n2, (n_1h, n1, n2)
    assert n_1d == n1 + n2


def test_replace_path_clears_stale_partial_flag(spark, transcripts, tmp_path):
    """A partial-flagged 1m day whose coarse pointers are gone takes the
    replace path; that commit clears the day's stale `partial` flag, and
    clearing it changes no tier: every tier holds the day's surviving
    rows, and the next late batch takes the replace path again."""
    from tsprofiler_spark.operators.ingest import SERIES_COLS
    from tsprofiler_spark.operators.rollup import cascade_partials
    from tsprofiler_spark.plans.retention import merge_transcript_batch

    store = RollupStore(spark, str(tmp_path / "s"))
    incremental_run(
        transcripts,
        store,
        SETTINGS,
        tiers_cfg={"1m": {"ttl_days": 1}, "1h": {"ttl_days": 365}, "1d": {"ttl_days": 365}},
        expire=True,
    )
    day = sorted(set(store.manifest.tiers["1h"]) - set(store.manifest.tiers["1m"]))[0]
    day_rows = transcripts.where(F.to_date("ts") == day)
    lates = [day_rows.where(F.col("turn_idx") % 3 == k).limit(5) for k in range(3)]
    wm = store.manifest.watermark
    merge_transcript_batch(lates[0], store, "late-1", wm)
    store.manifest.drop_days("1h", [day])
    store.manifest.drop_days("1d", [day])
    assert day in store.manifest.partial_days("1m")

    merge_transcript_batch(lates[1], store, "late-2", wm)
    assert day not in store.manifest.partial_days("1m")
    # durable: the flag is gone from the manifest on disk too
    assert day not in RollupStore(spark, store.base).manifest.partial_days("1m")
    merge_transcript_batch(lates[2], store, "late-3", wm)
    assert day not in store.manifest.partial_days("1m")

    cols = (*SERIES_COLS, "metric", "bucket_start", "n", "s1", "s2", "vmin", "vmax")

    def rows(df):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    n_late = sum(df.count() for df in lates)
    one_m = store.read_tier("1m").where(F.col("day") == day).drop("day")
    assert one_m.agg(F.sum("n")).collect()[0][0] == n_late
    # each coarse tier is exactly the cascade of the complete 1m day
    want_1h = cascade_partials(one_m, "1h")
    want = {"1h": want_1h, "1d": cascade_partials(want_1h, "1d")}
    for tier in ("1h", "1d"):
        got = store.read_tier(tier).where(F.col("day") == day)
        assert rows(got) == rows(want[tier]), tier


def test_ttl_late_replay_restart_lifecycle(spark, transcripts, tmp_path):
    """One combined lifecycle (r4 verdict ask #5): stream ingest -> 1m TTL
    expiry -> late replay resurrecting an expired day -> stream RESTART
    from the same checkpoint -> a second late drop for the same day. The
    coarse tiers must stay additive through the whole sequence, the
    partial flag must survive the restart, and the checkpoint must replay
    nothing twice."""
    from tsprofiler_spark.streaming import start_rollup_stream, stream_transcripts

    inbox = str(tmp_path / "inbox")
    os.makedirs(inbox)
    ckpt = str(tmp_path / "ckpt")
    base = str(tmp_path / "store")

    day_rows = None  # resolved after expiry below

    # phase 1: bulk ingest via the stream, then 1m TTL expiry
    transcripts.coalesce(1).write.parquet(os.path.join(inbox, "drop1"))
    store = RollupStore(spark, base)
    q = start_rollup_stream(
        stream_transcripts(spark, inbox + "/*", max_files_per_trigger=1),
        store, SETTINGS, ckpt,
    )
    q.awaitTermination(120)
    store.expire("1m", 1)
    expired = sorted(set(store.manifest.tiers["1h"]) - set(store.manifest.tiers["1m"]))
    assert expired
    day = expired[0]

    def day_totals(s, tier, d):
        df = s.read_tier(tier).where(F.col("day") == d)
        r = df.agg(F.sum("n")).collect()[0]
        return r[0] or 0

    before_1h = day_totals(store, "1h", day)
    before_1d = day_totals(store, "1d", day)
    assert before_1h > 0

    # phase 2: late replay — drop a file of rows for the expired day and
    # RESTART the stream from the same checkpoint (only the new file runs)
    day_rows = transcripts.where(F.to_date("ts") == day)
    late1 = day_rows.where(F.col("turn_idx") % 2 == 0).limit(7)
    n1 = late1.count()
    late1.coalesce(1).write.parquet(os.path.join(inbox, "drop2"))
    store = RollupStore(spark, base)  # fresh handle, manifest re-read
    q = start_rollup_stream(
        stream_transcripts(spark, inbox + "/*", max_files_per_trigger=1),
        store, SETTINGS, ckpt,
    )
    q.awaitTermination(120)
    assert day_totals(store, "1h", day) == before_1h + n1
    assert day in store.manifest.partial_days("1m")

    # phase 3: second late drop for the SAME day, another restart — the
    # durable partial flag must keep the merge additive
    late2 = day_rows.where(F.col("turn_idx") % 2 == 1).limit(5)
    n2 = late2.count()
    assert n2 > 0
    late2.coalesce(1).write.parquet(os.path.join(inbox, "drop3"))
    store = RollupStore(spark, base)
    q = start_rollup_stream(
        stream_transcripts(spark, inbox + "/*", max_files_per_trigger=1),
        store, SETTINGS, ckpt,
    )
    q.awaitTermination(120)
    assert day_totals(store, "1h", day) == before_1h + n1 + n2
    assert day_totals(store, "1d", day) == before_1d + n1 + n2

    # phase 4: restart with nothing new — checkpoint replays nothing
    runs_before = len(store.manifest.runs)
    store = RollupStore(spark, base)
    q = start_rollup_stream(
        stream_transcripts(spark, inbox + "/*", max_files_per_trigger=1),
        store, SETTINGS, ckpt,
    )
    q.awaitTermination(120)
    assert day_totals(store, "1h", day) == before_1h + n1 + n2
    assert len(store.manifest.runs) == runs_before


@pytest.mark.parametrize("k", [1, 2, 3])
def test_crash_at_kth_publish_then_replay_or_retry(
    spark, transcripts, tmp_path, monkeypatch, k
):
    """A late batch into a TTL-resurrected day stages three day versions
    (1m, 1h, 1d). Crash at the k-th `_publish`, then:
    (a) a replay with the same run_id converges to a clean store's tiers
    and `partial` flags;
    (b) a retry under a NEW run_id (its batch grew by a row) leaves no
    orphan version dir of the crashed run and no staging dir."""
    import shutil

    from tsprofiler_spark.plans.retention import merge_transcript_batch

    base = RollupStore(spark, str(tmp_path / "base"))
    incremental_run(
        transcripts,
        base,
        SETTINGS,
        tiers_cfg={"1m": {"ttl_days": 1}, "1h": {"ttl_days": 365}, "1d": {"ttl_days": 365}},
        expire=True,
    )
    day = sorted(set(base.manifest.tiers["1h"]) - set(base.manifest.tiers["1m"]))[0]
    wm = base.manifest.watermark
    day_rows = transcripts.where(F.to_date("ts") == day)
    late = day_rows.where(F.col("turn_idx") % 5 == 0)
    extra = day_rows.where(F.col("turn_idx") % 5 != 0).orderBy("conv_id", "turn_idx")
    grown = late.unionByName(extra.limit(1))

    def store_copy(name):
        shutil.copytree(base.base, str(tmp_path / name))
        return RollupStore(spark, str(tmp_path / name))

    clean = store_copy("clean")
    merge_transcript_batch(late, clean, "late-1", wm)

    publish = RollupStore._publish
    hits = []

    def crashing(self, *a, **kw):
        hits.append(a)
        if len(hits) == k:
            raise RuntimeError(f"crash at publish {k}")
        return publish(self, *a, **kw)

    def crash(store):
        hits.clear()
        monkeypatch.setattr(RollupStore, "_publish", crashing)
        with pytest.raises(RuntimeError, match="crash at publish"):
            merge_transcript_batch(late, store, "late-1", wm)
        monkeypatch.setattr(RollupStore, "_publish", publish)
        assert len(hits) == k  # the crash point was reached
        assert not store.manifest.has_run("late-1")

    # (a) replay under the same run_id
    replayed = store_copy("replayed")
    crash(replayed)
    merge_transcript_batch(late, replayed, "late-1", wm)
    for tier in ("1m", "1h", "1d"):
        assert _tier_rows(replayed, tier) == _tier_rows(clean, tier), tier
    assert replayed.manifest.partial == clean.manifest.partial
    assert day in replayed.manifest.partial_days("1m")

    # (b) retry under a new run_id
    retried = store_copy("retried")
    crash(retried)
    merge_transcript_batch(grown, retried, "late-2", wm)
    assert not [d for d in os.listdir(retried.base) if d.startswith("_staging-")]
    for tier, days in retried.manifest.tiers.items():
        for d, ver in days.items():
            day_dir = os.path.dirname(retried._day_dir(tier, d, ver))
            assert os.listdir(day_dir) == [f"v={ver}"], (tier, d)


def test_manifest_save_fsyncs_file_then_replaces_then_fsyncs_dir(tmp_path, monkeypatch):
    """The manifest commit is durable: the temp file is fsynced before the
    atomic `os.replace`, and its directory after it."""
    import stat

    from tsprofiler_spark.plans.storage import Manifest

    calls = []
    fsync, replace = os.fsync, os.replace

    def record_fsync(fd):
        calls.append("dir" if stat.S_ISDIR(os.fstat(fd).st_mode) else "file")
        fsync(fd)

    def record_replace(src, dst):
        calls.append("replace")
        replace(src, dst)

    monkeypatch.setattr(os, "fsync", record_fsync)
    monkeypatch.setattr(os, "replace", record_replace)
    m = Manifest(path=str(tmp_path / "store" / "manifest.json"))
    m.record_run("run-1", "2025-01-01 00:00:00", [])
    assert calls == ["file", "replace", "dir"]
    assert Manifest.load(m.path).has_run("run-1")
