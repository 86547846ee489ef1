"""Pure-numpy oracle kernels replicating the reference semantics bit-exactly.

These kernels are the golden oracle for the Spark pipeline: every Spark
operator is validated against them in tests, and the sequential/lossy
behaviors (dynamic-bound rescale, period-tree snapshot merge, phase
detection) run *through* them inside `applyInPandas` in parity mode.
"""

from tsprofiler_spark.kernel.rounding import go_round
from tsprofiler_spark.kernel.discretize import (
    closest_discretize,
    simple_discretize,
)
from tsprofiler_spark.kernel.txmatrix import (
    compute_probabilities,
    tx_diff,
    tx_likeliness_single,
    tx_merge,
)
from tsprofiler_spark.kernel.txdimension import change_dimension
from tsprofiler_spark.kernel.stats import TSStats
from tsprofiler_spark.kernel.counter import Counter, TSState
from tsprofiler_spark.kernel.tree import PeriodTreeNode, new_period_tree
from tsprofiler_spark.kernel.profiler import ReferenceProfiler

__all__ = [
    "go_round",
    "simple_discretize",
    "closest_discretize",
    "compute_probabilities",
    "tx_merge",
    "tx_diff",
    "tx_likeliness_single",
    "change_dimension",
    "TSStats",
    "TSState",
    "Counter",
    "PeriodTreeNode",
    "new_period_tree",
    "ReferenceProfiler",
]
