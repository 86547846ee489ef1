"""Discretizers.

Faithful re-expressions of the reference's two discretizers
(reference: utils/discretize.go:8-51). Bound arithmetic is replicated
exactly — note `min` is *not* added to the closest-discretize bounds
(utils/discretize.go:35-37), and the simple discretizer accumulates the
step value (`stateStepValue += stateStepSize`), so float accumulation
order is preserved.
"""

from __future__ import annotations


def simple_discretize(value: float, maxstate: int, vmin: float, vmax: float) -> int:
    """Smallest-state discretizer (reference: utils/discretize.go:8-27)."""
    step = float(vmax - vmin) / float(maxstate)
    step_value = float(vmin)
    state = -1
    while step_value < vmax:
        if value < step_value:
            return state
        state += 1
        step_value += step
    if vmin == 0 and vmax == 0:
        state = 0
    return state


def closest_discretize(value: float, maxstate: int, vmin: float, vmax: float) -> int:
    """Closest-state discretizer (reference: utils/discretize.go:30-51).

    Buckets are centered on ``i*step`` (``min`` intentionally not added,
    matching the reference); values above the top bound clamp to the last
    state; anything unmatched falls back to state 0.
    """
    step = float(vmax - vmin) / float(maxstate)
    for i in range(maxstate):
        lower = float(i) * step - 0.5 * step
        upper = float(i) * step + 0.5 * step
        if value >= lower and value < upper:
            return i
    max_upper = float(maxstate - 1) * step + 0.5 * step
    if value >= max_upper:
        return maxstate - 1
    return 0
