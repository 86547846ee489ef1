"""Rounding parity with Go.

The reference rounds integer percents with a hand-rolled half-away-from-zero
round (reference: utils/stats.go:38-44 and models/txmatrix.go:90-96), which
differs from numpy's default banker's rounding.
"""

from __future__ import annotations

import math


def go_round(x: float) -> float:
    """Half-away-from-zero round (reference: utils/stats.go:38-44)."""
    t = math.trunc(x)
    if abs(x - t) >= 0.5:
        return t + math.copysign(1.0, x)
    return float(t)
