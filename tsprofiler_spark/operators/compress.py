"""Rolled-up point compression: Gorilla XOR values + delta-of-delta
timestamps packed into binary columns, one blob per (series, metric, tier,
day) segment.

One streaming encoder (`compress_points_colocated`) runs as `mapInPandas`
over segment-contiguous input: Arrow batches, vectorized numpy bit packing,
no per-row Python against Spark rows. `compress_points` lays out any input
for it with one shuffle. The inverse (`decompress_points`) is also
`mapInPandas` and is the basis of the codec round-trip correctness query.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from tsprofiler_spark.operators.ingest import SERIES_COLS

SEGMENT_KEY = SERIES_COLS + ["metric", "tier", "seg_day"]

COMPRESSED_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("tool", StringType()),
        StructField("role", StringType()),
        StructField("metric", StringType()),
        StructField("tier", StringType()),
        StructField("seg_day", TimestampType()),
        StructField("n_points", IntegerType()),
        StructField("ts_dod", BinaryType()),
        StructField("points_gorilla", BinaryType()),
    ]
)


def compress_points(tier_df: DataFrame) -> DataFrame:
    """(series, metric, tier, bucket_start, avg) in any order -> one blob per
    (series, metric, tier, day) segment.

    One exchange hashed on the series key puts every segment in a single
    partition, and the sort within partitions makes it contiguous and
    time-ordered: exactly the layout `compress_points_colocated` streams.
    """
    return compress_points_colocated(
        tier_df.repartition(*SERIES_COLS).sortWithinPartitions(
            *SERIES_COLS, "metric", "tier", "bucket_start"
        )
    )


def _key_differs(keys: pd.DataFrame, other) -> np.ndarray:
    """Rows whose segment key differs from ``other`` (a frame or one row),
    with null equal to null: pandas' ``None != None`` is True, which would
    start a new segment at every row of a null-``tool`` series."""
    return ((keys != other) & ~(keys.isna() & other.isna())).any(axis=1).to_numpy()


def compress_points_colocated(points: DataFrame) -> DataFrame:
    """The codec's one encoder, for input already laid out by segment.

    Streams the Arrow batches of each partition, slices segments at
    key-change boundaries (carrying a possibly-split tail segment across
    batches — O(largest segment) memory) and encodes every segment of a
    batch in one vectorized numpy pass.

    Preconditions:
    * equal segment keys are contiguous and time-ordered within a
      partition;
    * no segment spans partitions.

    `compress_points` establishes both for any input with one shuffle. A
    tier read from `RollupStore` already has them, whichever path wrote it
    (bootstrap, merge into committed days, compaction), so this runs on it
    with no exchange: every write sorts each file by segment key +
    bucket_start, no two files share a segment (disjoint series hash ranges
    per writer task x one day per dir), and staged files stay under the
    parquet block size (one row group), which Spark assigns to exactly one
    split by its midpoint.
    """

    def encode_stream(batches):
        from tsprofiler_spark.codec.vectorized import (
            dod_encode_many,
            gorilla_encode_many,
        )

        key_cols = list(SEGMENT_KEY)
        carry: pd.DataFrame | None = None

        def emit(pdf: pd.DataFrame) -> pd.DataFrame:
            ts = pdf["bucket_start"].to_numpy("datetime64[us]").astype("int64")
            vals = pdf["avg"].to_numpy(np.float64)
            keys = pdf[key_cols]
            change = _key_differs(keys, keys.shift())
            change[0] = True
            starts = np.flatnonzero(change)
            lengths = np.diff(starts, append=len(pdf))
            out = keys.iloc[starts].reset_index(drop=True)
            out["n_points"] = lengths
            out["ts_dod"] = dod_encode_many(ts, lengths)
            out["points_gorilla"] = gorilla_encode_many(vals, lengths)
            return out

        for pdf in batches:
            if not len(pdf):
                continue
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
            # hold back the final segment: it may continue in the next batch
            keys = pdf[key_cols]
            not_last = _key_differs(keys, keys.iloc[-1])
            tail_start = int(not_last.nonzero()[0][-1]) + 1 if not_last.any() else 0
            head, carry = pdf.iloc[:tail_start], pdf.iloc[tail_start:]
            if len(head):
                yield emit(head)
        if carry is not None and len(carry):
            yield emit(carry)

    with_day = points.withColumn("seg_day", F.date_trunc("day", "bucket_start"))
    cols = [*SEGMENT_KEY, "bucket_start", "avg"]
    return with_day.select(*cols).mapInPandas(encode_stream, COMPRESSED_SCHEMA)


DECOMPRESSED_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("tool", StringType()),
        StructField("role", StringType()),
        StructField("metric", StringType()),
        StructField("tier", StringType()),
        StructField("bucket_start", TimestampType()),
        StructField("avg", DoubleType()),
    ]
)


def decompress_points(compressed: DataFrame) -> DataFrame:
    """Inverse of compress_points (round-trip identity is tested + driver-checked)."""

    def decode(batches):
        from tsprofiler_spark.codec import dod_decode, gorilla_decode

        for pdf in batches:
            if not len(pdf):
                continue
            # decode every segment, then build ONE frame for the whole batch
            # (per-row DataFrame construction + concat costs more than the
            # bit decode itself at high segment counts)
            ts_parts = [dod_decode(bytes(b)) for b in pdf["ts_dod"]]
            val_parts = [gorilla_decode(bytes(b)) for b in pdf["points_gorilla"]]
            lengths = np.fromiter(
                (len(v) for v in val_parts), dtype=np.int64, count=len(val_parts)
            )
            out = {
                col: np.repeat(pdf[col].to_numpy(), lengths)
                for col in ("conv_id", "tool", "role", "metric", "tier")
            }
            out["bucket_start"] = pd.to_datetime(
                np.concatenate(ts_parts) if ts_parts else np.zeros(0, np.int64),
                unit="us",
            )
            out["avg"] = (
                np.concatenate(val_parts) if val_parts else np.zeros(0, np.float64)
            )
            if lengths.sum():
                yield pd.DataFrame(out)

    return compressed.mapInPandas(decode, DECOMPRESSED_SCHEMA)
