"""Stateful streaming chunking: the reference's Put-driven buffer→chunk
loop (profiler/buffer/buffer.go:39-83, chunk close profiler/profiler.go:
107-131) as a Structured Streaming operator.

`stream_chunk_states` turns an unbounded stream of per-turn observations
into the SAME chunk-state rows the batch pipeline produces
(operators/profile.py bucketize + chunk_stats + with_state), using
``applyInPandasWithState``: per (series, metric) group the state carries
the partial chunk buffer (values not yet filling a chunk) and the
cumulative closed-chunk sums that define the reference's
``current_avg`` cross-term — O(buffer_size) state per series, regardless
of stream length (the reference's own O(1)-memory property).

Preconditions (documented, matching the reference's strictly-in-order
channel): within one series, rows arrive in (ts, turn_idx) order across
micro-batches — batches are sorted internally, but a turn older than an
already-closed chunk cannot be re-opened (append-only transcript streams
satisfy this; late-data *tier* corrections are the retention MERGE's job,
streaming/ingest.py).

At cluster scale: state is hash-partitioned by the series key across
executors and checkpointed by the state store; each micro-batch touches
only the groups present in the batch.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from tsprofiler_spark.config import Settings
from tsprofiler_spark.operators.ingest import SERIES_COLS

CHUNK_OUTPUT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("tool", StringType()),
        StructField("role", StringType()),
        StructField("metric", StringType()),
        StructField("bucket_idx", LongType()),
        StructField("bucket_start", TimestampType()),
        StructField("n", LongType()),
        StructField("s1", DoubleType()),
        StructField("chunk_avg", DoubleType()),
        StructField("current_avg", DoubleType()),
        StructField("stddev_sum", DoubleType()),
        StructField("state", IntegerType()),
    ]
)

# carried across micro-batches per (series, metric). cum_n doubles as the
# consumed-row sequence offset: chunks close only at exactly buffer_size
# rows, so rows-in-closed-chunks == rows consumed, and
# bucket_idx = cum_n // buffer_size.
STATE_SCHEMA = StructType(
    [
        StructField("cum_n", LongType()),        # rows in CLOSED chunks
        StructField("cum_s1", DoubleType()),     # sum of values in closed chunks
        StructField("pend_values", ArrayType(DoubleType())),
        StructField("pend_ts", ArrayType(TimestampType())),
    ]
)


def _make_chunk_fn(settings: Settings, idle_timeout_ms: int | None = None):
    buffer_size = settings.buffer_size
    states = settings.states
    fixed_min = settings.fixed_min
    fixed_max = settings.fixed_max
    # a real check, not `assert` — python -O would compile that out and
    # silently discretize against the default fixed bounds
    if not settings.fix_bound:
        raise ValueError("streaming chunking requires fix_bound")

    def chunk_fn(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        from tsprofiler_spark.kernel.discretize import closest_discretize

        if state.hasTimedOut:
            # idle-series eviction: the watermark passed this series' last
            # event + idle_timeout, i.e. the stream declares the series
            # finished. DROP the partial buffer — exactly what the batch
            # pipeline does with a trailing incomplete chunk (chunk_stats'
            # n == buffer_size gate; the reference discards a partially
            # filled buffer at stream end) — and free the state slot.
            state.remove()
            return

        if state.exists:
            cum_n, cum_s1, pend_values, pend_ts = state.get
            values = list(pend_values)
            tss = list(pend_ts)
        else:
            cum_n, cum_s1 = 0, 0.0
            values, tss = [], []

        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["ts", "turn_idx"], kind="mergesort")
        batch_max_ts = rows["ts"].max() if len(rows) else None
        values.extend(float(v) for v in rows["value"])
        tss.extend(rows["ts"])

        out = []
        while len(values) >= buffer_size:
            chunk = np.asarray(values[:buffer_size], dtype=np.float64)
            chunk_ts = tss[:buffer_size]
            values = values[buffer_size:]
            tss = tss[buffer_size:]
            bucket_idx = cum_n // buffer_size
            n = buffer_size
            s1 = float(chunk.sum())
            s2 = float((chunk * chunk).sum())
            chunk_avg = s1 / n
            current_avg = (cum_s1 / cum_n) if cum_n > 0 else 0.0
            # reference cross-term (descretizer.go:68-85) from exact sums:
            # sum((v - cavg)(v - avg)) = S2 - avg*S1 - cavg*S1 + n*cavg*avg
            stddev_sum = s2 - chunk_avg * s1 - current_avg * s1 + n * current_avg * chunk_avg
            st = int(closest_discretize(chunk_avg, states, fixed_min, fixed_max))
            out.append(
                {
                    "conv_id": key[0],
                    "tool": key[1],
                    "role": key[2],
                    "metric": key[3],
                    "bucket_idx": bucket_idx,
                    "bucket_start": min(chunk_ts),
                    "n": n,
                    "s1": s1,
                    "chunk_avg": chunk_avg,
                    "current_avg": current_avg,
                    "stddev_sum": stddev_sum,
                    "state": st,
                }
            )
            cum_n += n
            cum_s1 += s1

        state.update((cum_n, cum_s1, values, tss))
        if idle_timeout_ms is not None:
            # Event-time timeout: fire when the WATERMARK passes this
            # series' newest event + idle_timeout. Session tz is pinned UTC
            # (session.py), so the naive pandas timestamps are epoch-exact.
            # Spark requires the timeout timestamp to be strictly later
            # than the current watermark — a series whose newest event is
            # already idle_timeout behind the watermark times out at the
            # next possible tick instead of erroring.
            last_ms = (
                int(batch_max_ts.value // 1_000_000)
                if batch_max_ts is not None
                else 0
            )
            wm_ms = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(max(last_ms + idle_timeout_ms, wm_ms + 1))
        if out:
            yield pd.DataFrame(out)

    return chunk_fn


_INTERVAL_UNITS_MS = {
    "millisecond": 1, "milliseconds": 1, "ms": 1,
    "second": 1000, "seconds": 1000, "sec": 1000, "secs": 1000, "s": 1000,
    "minute": 60_000, "minutes": 60_000, "min": 60_000, "mins": 60_000,
    "m": 60_000,
    "hour": 3_600_000, "hours": 3_600_000, "h": 3_600_000,
    "day": 86_400_000, "days": 86_400_000, "d": 86_400_000,
}


def _parse_interval_ms(interval: str) -> int:
    """Parse Spark-interval-style '<n> <unit>' (e.g. '30 minutes',
    '1.5 hours', '90s') to milliseconds, with an error that names the
    accepted forms instead of a bare split/KeyError."""
    import re

    m = re.fullmatch(
        r"\s*(\d+(?:\.\d+)?)\s*([a-zA-Z]+)\s*", interval
    )
    unit_ms = _INTERVAL_UNITS_MS.get(m.group(2).lower()) if m else None
    if unit_ms is None:
        raise ValueError(
            f"idle_timeout {interval!r}: expected '<number> <unit>' with "
            f"unit one of {sorted(set(_INTERVAL_UNITS_MS))}"
        )
    return int(float(m.group(1)) * unit_ms)


def stream_chunk_states(
    series_stream: DataFrame,
    settings: Settings,
    idle_timeout: str | None = None,
) -> DataFrame:
    """Streaming chunk-state operator over a `derive_series`-shaped stream
    (conv_id, tool, role, turn_idx, ts, metric, value). Emits one row per
    COMPLETED chunk, append-mode; partial chunks wait in state.

    ``idle_timeout`` (e.g. ``"30 minutes"``): evict the state of series
    idle longer than this in EVENT time. Without it the state store grows
    without bound on conversation-churn streams — every conv_id that goes
    idle forever leaves an orphaned partial buffer (the one named
    scale-killer of the r4 review). The input stream MUST carry
    ``withWatermark("ts", ...)``; eviction fires when the watermark passes
    a series' newest event + idle_timeout, and DROPS the partial buffer —
    the same contract as batch, which discards a trailing incomplete chunk
    (chunk_stats' completeness gate), so stream==batch equality holds for
    every series that is truly finished when it times out. A series that
    RESUMES after its timeout starts a fresh lifetime: the buffer AND the
    cumulative (cum_n, cum_s1) fold restart at zero, so post-resume rows
    re-emit ``bucket_idx`` 0, 1, ... — in an append sink those keys
    COLLIDE with the series' pre-eviction rows (different values: the
    reset fold changes ``current_avg``), and the output diverges from
    batch for that series. Consumers that must tolerate resumption should
    key on (series, metric, bucket_idx, ``bucket_start``) — bucket_start
    is strictly later after a resume — or treat the resumed rows as a new
    logical series. Pick the timeout above the corpus' real inter-turn
    idle ceiling; ``None`` preserves the unbounded-state behavior for
    bounded backfills."""
    timeout_conf = GroupStateTimeout.NoTimeout
    idle_ms: int | None = None
    if idle_timeout is not None:
        idle_ms = _parse_interval_ms(idle_timeout)
        timeout_conf = GroupStateTimeout.EventTimeTimeout
    return series_stream.groupBy(*SERIES_COLS, "metric").applyInPandasWithState(
        _make_chunk_fn(settings, idle_timeout_ms=idle_ms),
        outputStructType=CHUNK_OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout_conf,
    )
