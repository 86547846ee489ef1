"""Discretizer parity fixtures ported 1:1 from
/root/reference/utils/discretize_test.go:9-26."""

import pytest

from tsprofiler_spark.kernel.discretize import (
    closest_discretize,
    simple_discretize,
)


@pytest.mark.parametrize(
    "value,states,vmin,vmax,expected",
    [
        (24, 4, 0, 100, 0),
        (55, 4, 0, 100, 2),
        (70, 2, 0, 100, 1),
        (0, 4, 0, 0, 0),
    ],
)
def test_simple_discretize(value, states, vmin, vmax, expected):
    assert simple_discretize(value, states, vmin, vmax) == expected


@pytest.mark.parametrize(
    "value,states,vmin,vmax,expected",
    [
        (24, 4, 0, 100, 1),
        (55, 4, 0, 100, 2),
        (70, 2, 0, 100, 1),
        (91, 4, 0, 100, 3),
    ],
)
def test_closest_discretize(value, states, vmin, vmax, expected):
    assert closest_discretize(value, states, vmin, vmax) == expected

