"""Codec round-trip property tests (FIXTURES.md F5): encode->decode must be
the identity on constant runs, ramps, random walks, and irregular gaps."""

import numpy as np
import pytest

from tsprofiler_spark.codec import dod_decode, dod_encode, gorilla_decode, gorilla_encode

rng = np.random.default_rng(42)

FLOAT_CASES = [
    np.array([], dtype=np.float64),
    np.array([3.14159]),
    np.full(1000, 42.0),
    np.arange(0, 500, 0.5),
    np.cumsum(rng.normal(0, 1, 2000)),
    rng.uniform(-1e12, 1e12, 500),
    np.array([0.0, -0.0, 1.5e-300, 1.7e308, -2.2e-308, 1.0, 1.0]),
    np.round(rng.uniform(0, 128, 3000)),  # integer-ish (typical len_text avgs)
]


@pytest.mark.parametrize("case", range(len(FLOAT_CASES)))
def test_gorilla_roundtrip(case):
    vals = FLOAT_CASES[case]
    out = gorilla_decode(gorilla_encode(vals))
    np.testing.assert_array_equal(vals.view(np.uint64), out.view(np.uint64))


TS_CASES = [
    np.array([], dtype=np.int64),
    np.array([1700000000]),
    np.arange(1700000000, 1700005000, 60),  # perfectly regular -> ~0 bits/pt
    np.cumsum(np.concatenate([[1700000000], rng.integers(1, 300, 5000)])),
    np.cumsum(np.concatenate([[0], rng.integers(1, 10**12, 100)])),  # huge gaps
]


@pytest.mark.parametrize("case", range(len(TS_CASES)))
def test_dod_roundtrip(case):
    ts = TS_CASES[case]
    np.testing.assert_array_equal(ts, dod_decode(dod_encode(ts)))


def test_dod_encode_many_bit_identical_to_scalar():
    """The batch encoder must produce byte-for-byte the scalar DoD stream
    for every segment (the format has no sequential encoder state)."""
    from tsprofiler_spark.codec.vectorized import dod_encode_many

    segs = TS_CASES + [np.array([-5, 3, 10**15], dtype=np.int64)]
    lengths = np.array([len(s) for s in segs])
    cat = np.concatenate(segs)
    blobs = dod_encode_many(cat, lengths)
    for seg, blob in zip(segs, blobs):
        assert blob == dod_encode(seg)


def test_gorilla_encode_many_roundtrips_via_scalar_decoder():
    """The batch encoder fixes one (lead, mbits) block per segment — a
    different token policy but the same bitstream grammar, so the scalar
    decoder must reproduce every value bit-exactly."""
    from tsprofiler_spark.codec.vectorized import gorilla_encode_many

    segs = FLOAT_CASES
    lengths = np.array([len(s) for s in segs])
    cat = np.concatenate(segs)
    blobs = gorilla_encode_many(cat, lengths)
    for seg, blob in zip(segs, blobs):
        out = gorilla_decode(blob)
        np.testing.assert_array_equal(seg.view(np.uint64), out.view(np.uint64))


def test_vectorized_gorilla_ratio_close_to_scalar():
    """Fixed-block policy costs at most a few % vs the adaptive scalar
    policy on rolled-up-like series (similar values per segment)."""
    from tsprofiler_spark.codec.vectorized import gorilla_encode_many

    vals = np.round(50 + 30 * np.sin(np.arange(5000) / 100))
    blob_v = gorilla_encode_many(vals, np.array([len(vals)]))[0]
    blob_s = gorilla_encode(vals)
    assert len(blob_v) <= 1.10 * len(blob_s)


def test_compression_ratio_on_regular_series():
    # regular 60s cadence + slowly varying values must compress well
    ts = np.arange(1700000000, 1700000000 + 60 * 5000, 60, dtype=np.int64)
    vals = np.round(50 + 30 * np.sin(np.arange(5000) / 100))
    blob_ts = dod_encode(ts)
    blob_v = gorilla_encode(vals)
    assert len(blob_ts) < 0.05 * ts.nbytes  # ~1 bit per regular timestamp
    assert len(blob_v) < 0.5 * vals.nbytes


# --- property-based: any float64/int64 content must round-trip ------------

try:
    from hypothesis import given, settings as hsettings
    from hypothesis import strategies as st
    from hypothesis.extra.numpy import arrays

    HAVE_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    HAVE_HYPOTHESIS = False

if HAVE_HYPOTHESIS:

    @given(
        arrays(
            np.float64,
            st.integers(0, 300),
            elements=st.floats(allow_nan=False, width=64),
        )
    )
    @hsettings(max_examples=60, deadline=None)
    def test_gorilla_roundtrip_property(vals):
        out = gorilla_decode(gorilla_encode(vals))
        np.testing.assert_array_equal(vals.view(np.uint64), out.view(np.uint64))

    @given(
        st.lists(
            arrays(
                np.float64,
                st.integers(0, 80),
                elements=st.floats(allow_nan=False, width=64),
            ),
            max_size=8,
        )
    )
    @hsettings(max_examples=40, deadline=None)
    def test_gorilla_many_roundtrip_property(segs):
        from tsprofiler_spark.codec.vectorized import gorilla_encode_many

        lengths = np.array([len(s) for s in segs], dtype=np.int64)
        cat = np.concatenate(segs) if segs else np.zeros(0, np.float64)
        for seg, blob in zip(segs, gorilla_encode_many(cat, lengths)):
            out = gorilla_decode(blob)
            np.testing.assert_array_equal(seg.view(np.uint64), out.view(np.uint64))

    @given(
        st.lists(
            arrays(
                np.int64,
                st.integers(0, 80),
                # keep |dod| < 2^62 so intermediate deltas cannot overflow
                elements=st.integers(-(2**60), 2**60),
            ),
            max_size=8,
        )
    )
    @hsettings(max_examples=40, deadline=None)
    def test_dod_many_matches_scalar_property(segs):
        from tsprofiler_spark.codec.vectorized import dod_encode_many

        lengths = np.array([len(s) for s in segs], dtype=np.int64)
        cat = np.concatenate(segs) if segs else np.zeros(0, np.int64)
        blobs = dod_encode_many(cat, lengths)
        for seg, blob in zip(segs, blobs):
            assert blob == dod_encode(seg)
            np.testing.assert_array_equal(seg, dod_decode(blob))


def test_colocated_compress_matches_shuffle_compress(spark, tmp_path):
    """compress_points_colocated over a store-written tier must emit
    blob-identical segments to the generic groupBy path (the store layout
    guarantees segment contiguity + time order, so both encode the same
    sorted arrays), decompress back to the tier points, and produce exactly
    one blob per segment key."""
    from pyspark.sql import functions as F

    from tsprofiler_spark.config import Settings
    from tsprofiler_spark.operators.compress import (
        compress_points,
        compress_points_colocated,
        decompress_points,
    )
    from tsprofiler_spark.plans.retention import incremental_run
    from tsprofiler_spark.plans.storage import RollupStore
    from tsprofiler_spark.sources.transcripts import synthesize_transcripts

    t = synthesize_transcripts(spark, n_convs=12, max_turns=300, seed=9,
                               step_seconds=600)
    store = RollupStore(spark, str(tmp_path / "s"))
    incremental_run(t, store, Settings(fix_bound=True, fixed_min=0.0,
                                       fixed_max=128.0, states=6),
                    expire=False)
    points = store.read_tier("1m").select(
        "conv_id", "tool", "role", "metric", F.lit("1m").alias("tier"),
        "bucket_start", (F.col("s1") / F.col("n")).alias("avg"),
    )

    def rows(df):
        return sorted(
            (r.conv_id, r.tool, r.role, r.metric, r.tier, str(r.seg_day),
             r.n_points, bytes(r.ts_dod), bytes(r.points_gorilla))
            for r in df.collect()
        )

    shuffled = rows(compress_points(points))
    streamed_df = compress_points_colocated(points)
    streamed = rows(streamed_df)
    assert streamed == shuffled  # blob-identical, not just value-equal

    # exactly one blob per segment (colocation precondition held)
    keys = [r[:6] for r in streamed]
    assert len(keys) == len(set(keys))

    # round-trip identity through the streaming blobs
    back = decompress_points(streamed_df)
    a = sorted(map(tuple, points.select(
        "conv_id", "tool", "role", "metric", "tier",
        F.col("bucket_start").cast("string"), F.round("avg", 9)).collect()))
    b = sorted(map(tuple, back.select(
        "conv_id", "tool", "role", "metric", "tier",
        F.col("bucket_start").cast("string"), F.round("avg", 9)).collect()))
    assert a == b


def test_null_key_segment_is_one_blob_across_batches(spark, tmp_path):
    """A null segment-key column (a user turn has no ``tool``) is one key,
    not one per row: pandas' ``None != None`` is True, so the encoder's
    key-change and carry-tail masks must compare null == null. Small Arrow
    batches make the null-``tool`` segment span several of them."""
    import datetime as dt
    from collections import Counter

    from pyspark.sql import functions as F

    from tsprofiler_spark.codec.vectorized import gorilla_encode_many
    from tsprofiler_spark.config import Settings
    from tsprofiler_spark.operators.compress import (
        compress_points,
        compress_points_colocated,
        decompress_points,
    )
    from tsprofiler_spark.plans.retention import incremental_run
    from tsprofiler_spark.plans.storage import RollupStore
    from tsprofiler_spark.streaming.ingest import TRANSCRIPTS_SCHEMA

    base = dt.datetime(2026, 1, 1, 12, 0, 0)
    rows = [("c1", i, "user", "x" * (i % 7 + 1), None,
             base + dt.timedelta(minutes=i)) for i in range(20)]
    rows += [("c1", 20 + i, "assistant", "y" * (i + 1), "search",
              base + dt.timedelta(minutes=i, seconds=30)) for i in range(12)]
    store = RollupStore(spark, str(tmp_path / "s"))
    incremental_run(spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA), store,
                    Settings(fix_bound=True, fixed_min=0.0, fixed_max=128.0,
                             states=6),
                    expire=False)
    points = store.read_tier("1m").select(
        "conv_id", "tool", "role", "metric", F.lit("1m").alias("tier"),
        "bucket_start", F.unix_micros("bucket_start").alias("ts_us"),
        (F.col("s1") / F.col("n")).alias("avg"),
    )
    tier = points.collect()
    segments: dict = {}
    for r in sorted(tier, key=lambda r: r.ts_us):
        key = (r.conv_id, r.tool, r.role, r.metric, r.tier)
        segments.setdefault(key, ([], []))
        segments[key][0].append(r.ts_us)
        segments[key][1].append(r.avg)
    null_key = ("c1", None, "user", "len_text", "1m")
    assert len(segments) == 2 and len(segments[null_key][0]) == 20

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "8")
    try:
        for encode in (compress_points_colocated, compress_points):
            compressed = encode(points.drop("ts_us"))
            blobs = compressed.collect()
            keys = [(b.conv_id, b.tool, b.role, b.metric, b.tier) for b in blobs]
            assert sorted(keys, key=repr) == sorted(segments, key=repr)
            for b, key in zip(blobs, keys):
                ts = np.array(segments[key][0], dtype=np.int64)
                vals = np.array(segments[key][1], dtype=np.float64)
                assert b.n_points == len(ts)
                assert bytes(b.ts_dod) == dod_encode(ts)
                assert bytes(b.points_gorilla) == gorilla_encode_many(
                    vals, np.array([len(vals)]))[0]
                np.testing.assert_array_equal(
                    gorilla_decode(bytes(b.points_gorilla)), vals)
            back = decompress_points(compressed).select(
                "conv_id", "tool", "role", "metric", "tier",
                F.unix_micros("bucket_start"), "avg").collect()
            assert Counter(map(tuple, back)) == Counter(
                (r.conv_id, r.tool, r.role, r.metric, r.tier, r.ts_us, r.avg)
                for r in tier)
    finally:
        spark.conf.set(conf, old)
