"""Spark Column expression helpers shared across operators.

Everything here is pure `pyspark.sql.functions` (JVM-side, codegen-able) —
no Python UDFs. Formulas mirror the reference kernels and are written so the
same ANSI SQL runs in DuckDB for the driver's oracle comparison.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def go_round_nonneg(c: Column) -> Column:
    """Half-away-from-zero round for non-negative values
    (reference: utils/stats.go:38-44), as the reference's exact
    trunc-compare — NOT ``floor(x + 0.5)``: for x < 1 the addition can
    round up across the boundary where the compare would not (classic
    ``floor(0.49999999999999994 + 0.5) == 1``), and matching the kernel
    bit-for-bit is the whole point of this helper. For x >= 0,
    trunc == floor, so the compare is ``x - floor(x) >= 0.5``."""
    f = F.floor(c)
    return F.when(c - f >= F.lit(0.5), f + F.lit(1)).otherwise(f)


def go_round_sql(x: str) -> str:
    """DuckDB/ANSI SQL for ``int(go_round(x))`` of a nonnegative
    expression — the same trunc-compare as :func:`go_round_nonneg`, so a
    DuckDB oracle rounds bit-identically to the Spark operator AND to the
    reference kernel (utils/stats.go:38-44). ``x`` is evaluated several
    times; pass a self-contained expression."""
    return (
        f"CAST(CASE WHEN ({x}) - trunc({x}) >= 0.5 THEN trunc({x}) + 1 "
        f"ELSE trunc({x}) END AS INT)"
    )


def go_round_pct_sql(num: str, den: str) -> str:
    """``int(go_round(float(num)/float(den)*100.0))`` in SQL with the
    reference's exact IEEE op order (txprobabilities.go:18:
    ``(v/sum)*100``, never ``(100*v)/sum`` — they differ in the final ulp
    on pairs like 23/40, flipping the rounded percent). Both args must be
    nonnegative."""
    return go_round_sql(f"CAST({num} AS DOUBLE) / CAST({den} AS DOUBLE) * 100.0")


def closest_state(value: Column, states: int, vmin: float, vmax: float) -> Column:
    """Closest-state discretization with fixed bounds as a pure SQL formula.

    Mirrors utils/discretize.go:30-51: buckets centered on ``i*step`` with
    ``min`` intentionally NOT added; clamped to [0, states-1]. For values on
    the grid this equals ``least(S-1, greatest(0, floor(v/step + 0.5)))``.
    """
    step = (vmax - vmin) / float(states)
    raw = F.floor(value / F.lit(step) + F.lit(0.5))
    return F.least(F.lit(states - 1), F.greatest(F.lit(0), raw)).cast("int")


def closest_state_sql(value_expr: str, states: int, vmin: float, vmax: float) -> str:
    """The same formula as ANSI SQL text (for DuckDB oracles and spark.sql)."""
    step = (vmax - vmin) / float(states)
    return (
        f"CAST(LEAST({states - 1}, GREATEST(0, "
        f"FLOOR(({value_expr}) / {step!r} + 0.5))) AS INT)"
    )


def simple_boundaries(states: int, vmin: float, vmax: float) -> list[float]:
    """The simple-discretizer's accumulated step boundaries, bit-exact.

    Replicates the reference loop (utils/discretize.go:8-27):
    ``stateStepValue += stateStepSize`` while ``stateStepValue < max`` — the
    float-accumulation order is preserved, so each boundary is the exact
    double the scalar kernel compares against.
    """
    step = float(vmax - vmin) / float(states)
    out: list[float] = []
    sv = float(vmin)
    while sv < vmax:
        out.append(sv)
        sv += step
    return out


def simple_state(value: Column, states: int, vmin: float, vmax: float) -> Column:
    """Smallest-state (simple) discretization as a pure SQL formula.

    Mirrors utils/discretize.go:8-27: returned state = (# accumulated
    boundaries <= value) - 1, i.e. -1 below ``min`` and K-1 at/above the
    last boundary. Boundaries are embedded as exact double literals from
    :func:`simple_boundaries`, so Spark and DuckDB evaluate the identical
    comparisons.
    """
    bounds = simple_boundaries(states, vmin, vmax)
    if not bounds:
        return F.lit(0 if (vmin == 0 and vmax == 0) else -1)
    acc: Column = F.lit(-1)
    for b in bounds:
        acc = acc + (value >= F.lit(b)).cast("int")
    return acc.cast("int")


def simple_state_sql(value_expr: str, states: int, vmin: float, vmax: float) -> str:
    """The same simple-discretize formula as ANSI SQL text."""
    bounds = simple_boundaries(states, vmin, vmax)
    if not bounds:
        return str(0 if (vmin == 0 and vmax == 0) else -1)
    terms = " + ".join(
        f"CAST(({value_expr}) >= {b!r} AS INT)" for b in bounds
    )
    return f"CAST(-1 + {terms} AS INT)"


def series_key_cols() -> list[str]:
    """The series key: one profiled series per (conv_id, tool, role)."""
    return ["conv_id", "tool", "role"]
