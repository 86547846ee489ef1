"""TxMatrix operations: probabilities, merge, diff, likeliness.

Faithful re-expressions of reference: utils/txprobabilities.go:7-31 and
models/txmatrix.go:16-143. A TxMatrix is represented as::

    {
      "metric": str,
      "transitions": {ident: {"nextProbs": [int], "probability": int}},
      "stats": TSStats,
    }

Idents are dash-joined state histories ("a-b-c",
reference: utils/historyconvert.go:10-20).
"""

from __future__ import annotations

import numpy as np

from tsprofiler_spark.kernel.rounding import go_round


def ident_of(states: list[int]) -> str:
    """States -> "a-b-c" ident (reference: utils/historyconvert.go:10-20)."""
    return "-".join(str(s) for s in states)


def compute_probabilities(
    statematrix: dict[str, list[int]], max_count: float
) -> dict[str, dict]:
    """Counts -> integer-percent TXSteps (reference: utils/txprobabilities.go:7-31).

    ``nextProbs[j] = go_round(count_j / row_sum * 100)``;
    ``probability = go_round(row_sum / max_count * 100)``.
    """
    out: dict[str, dict] = {}
    for key, row in statematrix.items():
        total = int(sum(row))
        row_perc = []
        for v in row:
            frac = 0.0 if total == 0 else float(v) / float(total) * 100.0
            row_perc.append(int(go_round(frac)))
        step_prob = float(total) / max_count * 100.0
        out[key] = {"nextProbs": row_perc, "probability": int(go_round(step_prob))}
    return out


def tx_merge(local: dict, remote: dict) -> None:
    """Average-merge remote into local, in place (reference: models/txmatrix.go:46-59).

    Only idents present in local are touched; per-index average of integer
    percents, half-away-from-zero rounded. Remote-only idents are dropped
    (asymmetric by design — the reference iterates the stored side).
    """
    remote_tx = remote["transitions"]
    for ident, step in local["transitions"].items():
        rstep = remote_tx.get(ident)
        probs = step["nextProbs"]
        for i, p in enumerate(probs):
            if rstep is not None and len(rstep["nextProbs"]) > i:
                x = float(p)
                y = float(rstep["nextProbs"][i])
                probs[i] = int(go_round((x + y) / 2.0))


def tx_diff(local: dict, remote: dict) -> float:
    """Similarity ratio in [0,1] (reference: models/txmatrix.go:16-43).

    ``1 - sum(|p-q|)/sum(p+q)`` over shared idents, with remote-missing
    probabilities counting as full diff; the per-cell diff is clamped to the
    *running* counter (a reference quirk kept for parity); result rounded to
    3 decimals via half-away-from-zero.
    """
    counter = 0
    diffs = 0
    remote_tx = remote["transitions"]
    for ident, step in local["transitions"].items():
        rstep = remote_tx.get(ident)
        for i, p in enumerate(step["nextProbs"]):
            counter += p
            if rstep is not None and len(rstep["nextProbs"]) > i:
                counter += rstep["nextProbs"][i]
                d = abs(p - rstep["nextProbs"][i])
                if d > counter:
                    d = counter
                diffs += d
            else:
                diffs += p
    ratio = 1.0 - float(diffs) / float(counter)
    return go_round(ratio * 1000.0) / 1000.0


def tx_likeliness_single(tx: dict, from_states: list[int], to_state: int) -> np.float32:
    """P(to | from-history) from an assembled matrix
    (reference: models/txmatrix.go:62-88).

    Cuts the history from the front until an ident matches; returns
    nextProbs[to]/100 as float32; 0 when the ident is missing.
    """
    from_states = list(from_states)
    transitions = tx["transitions"]
    from_ident = ident_of(from_states)
    while len(from_states) > 1:
        from_ident = ident_of(from_states)
        if from_ident in transitions:
            break
        from_states = from_states[1:]
    step = transitions.get(from_ident)
    if step is None:
        return np.float32(0)
    if to_state > len(step["nextProbs"]):
        return np.float32(0)
    return np.float32(step["nextProbs"][to_state]) / np.float32(100)


def tx_likeliness_multi(
    txmatrices: list[dict],
    history: list[list],
    next_states: list,
) -> np.float32:
    """Multivariate mean likeliness (reference: models/txmatrix.go:110-143).

    ``history`` is a list of per-step TSState lists; ``next_states`` is the
    incoming TSState list. TSStates here are (metric, state) pairs exposed
    by kernel.counter.TSState.
    """
    lsum = np.float32(0)
    lcount = 0
    for tx in txmatrices:
        metric = tx["metric"]
        from_states: list[int] = []
        for step_states in history:
            for s in step_states:
                if s.metric == metric:
                    from_states.append(s.state)
                    break
        to_state = 0
        for s in next_states:
            if s.metric == metric:
                to_state = s.state
                break
        lsum += tx_likeliness_single(tx, from_states, to_state)
        lcount += 1
    # lcount == 0 -> NaN is reference semantics (models/txmatrix.go:140-142);
    # suppress the numpy warning so bench/driver logs stay readable
    with np.errstate(invalid="ignore", divide="ignore"):
        return lsum / np.float32(lcount)
