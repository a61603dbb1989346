"""Small statistics and plan-string helpers shared by the workloads."""

from __future__ import annotations

import math
import string

# Percentiles the tail metric may report, highest last.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0)
TAIL_MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank ``p``-th percentile (the smallest sample with at
    least ``p`` % of the samples at or below it)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def tail(values: list[float], min_beyond: int = TAIL_MIN_BEYOND,
         ladder: tuple[float, ...] = TAIL_LADDER) -> tuple[float, float] | None:
    """``(p, value)`` for the highest percentile on ``ladder`` that still
    has at least ``min_beyond`` samples strictly above its rank, or
    ``None`` when even the lowest rung lacks them."""
    n = len(values)
    best = None
    for p in ladder:
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= min_beyond:
            best = (p, percentile(values, p))
    return best


# Characters that draw the operator tree in front of a node name:
# ``+- ``, ``:  ``, ``|``, and the ``*(3) `` whole-stage-codegen marker.
_TREE_CHARS = " :+-|*()" + string.digits


def count_exchanges(plan: str) -> int:
    """Number of shuffle ``Exchange`` nodes in a physical plan string.

    ``BroadcastExchange`` is not a shuffle, and ``ReusedExchange`` points
    at an exchange already counted. An adaptive plan printed after
    execution holds both a final and an initial plan; only the final one
    is counted.
    """
    if "== Final Plan ==" in plan:
        plan = plan.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    n = 0
    for line in plan.splitlines():
        node = line.lstrip(_TREE_CHARS)
        n += node.startswith("Exchange ") or node == "Exchange"
    return n
