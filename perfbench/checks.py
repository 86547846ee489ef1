"""Output checks, recomputed independently of Spark with DuckDB.

Every comparison is order-independent: two tables are equal when neither
has a row the other lacks (``EXCEPT ALL`` both ways). Tier partials are sums,
minima and maxima of integer text lengths, so exact equality is the right
test; codec values are ``s1 / n`` on both sides.
"""

from __future__ import annotations

import json
import os

import duckdb

TIERS = {"1m": "minute", "1h": "hour", "1d": "day"}
KEY = "conv_id, tool, role, metric, bucket_start"
PARTIALS = "n, s1, s2, vmin, vmax"


def _list(paths: list[str]) -> str:
    return "[" + ", ".join(f"'{p}'" for p in paths) + "]"


def parquet_files(path: str) -> list[str]:
    return sorted(
        os.path.join(dp, f)
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )


def tier_files(store_dir: str, tier: str) -> list[str]:
    """Files of the committed versions of one tier, read from the manifest."""
    with open(os.path.join(store_dir, "manifest.json")) as f:
        pointers = json.load(f)["tiers"].get(tier) or {}
    files = []
    for day, ver in sorted(pointers.items()):
        files += parquet_files(
            os.path.join(store_dir, f"tier={tier}", f"day={day}", f"v={ver}")
        )
    return files


def _mismatch(con, a: str, b: str) -> int:
    return con.execute(
        f"SELECT (SELECT count(*) FROM ({a} EXCEPT ALL {b})) "
        f"+ (SELECT count(*) FROM ({b} EXCEPT ALL {a}))"
    ).fetchone()[0]


def tiers_match(store_dir: str, raw_files: list[str]) -> list[str]:
    """Tiers whose committed rows differ from a recompute over ``raw_files``."""
    con = duckdb.connect()
    con.execute(
        "CREATE TEMP VIEW series AS SELECT conv_id, tool, role, "
        "'len_text' AS metric, ts, CAST(length(text) AS DOUBLE) AS value "
        f"FROM read_parquet({_list(raw_files)})"
    )
    bad = []
    for tier, unit in TIERS.items():
        want = (
            f"SELECT conv_id, tool, role, metric, date_trunc('{unit}', ts) "
            "AS bucket_start, count(value) AS n, sum(value) AS s1, "
            "sum(value * value) AS s2, min(value) AS vmin, max(value) AS vmax "
            "FROM series GROUP BY ALL"
        )
        files = tier_files(store_dir, tier)
        got = (
            f"SELECT {KEY}, {PARTIALS} FROM read_parquet({_list(files)})"
            if files else f"SELECT * FROM ({want}) WHERE false"
        )
        if _mismatch(con, want, got):
            bad.append(tier)
    con.close()
    return bad


def tier_rows(store_dir: str, tier: str) -> int:
    con = duckdb.connect()
    n = con.execute(
        f"SELECT count(*) FROM read_parquet({_list(tier_files(store_dir, tier))})"
    ).fetchone()[0]
    con.close()
    return n


def codec_matches(store_dir: str, decoded_dir: str) -> bool:
    """Decoded points equal the 1m tier's ``s1 / n`` points."""
    con = duckdb.connect()
    want = (
        "SELECT conv_id, tool, role, metric, '1m' AS tier, bucket_start, "
        f"s1 / n AS avg FROM read_parquet({_list(tier_files(store_dir, '1m'))})"
    )
    got = (
        "SELECT conv_id, tool, role, metric, tier, bucket_start, avg "
        f"FROM read_parquet({_list(parquet_files(decoded_dir))})"
    )
    ok = _mismatch(con, want, got) == 0
    con.close()
    return ok


def bits_per_point(encoded_dir: str) -> float:
    con = duckdb.connect()
    bits, points = con.execute(
        "SELECT 8 * sum(octet_length(ts_dod) + octet_length(points_gorilla)), "
        f"sum(n_points) FROM read_parquet({_list(parquet_files(encoded_dir))})"
    ).fetchone()
    con.close()
    return float(bits) / float(points)


def distinct_series(raw_files: list[str]) -> int:
    con = duckdb.connect()
    n = con.execute(
        "SELECT count(*) FROM (SELECT DISTINCT conv_id, tool, role "
        f"FROM read_parquet({_list(raw_files)}))"
    ).fetchone()[0]
    con.close()
    return n


def table_hash(path: str) -> tuple[int, str]:
    """(rows, order-independent hash of every row's values)."""
    con = duckdb.connect()
    rows, h = con.execute(
        "SELECT count(*), sum(hash(t::VARCHAR)) "
        f"FROM read_parquet({_list(parquet_files(path))}) t"
    ).fetchone()
    con.close()
    return rows, str(h)
