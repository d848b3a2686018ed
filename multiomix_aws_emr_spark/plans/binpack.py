"""Driver-side planning: cost-model bin assignment for black-box UDF stages.

The reference load-balances star evaluations across workers with a learned
per-star runtime prediction fed into greedy bin-packing, then PINS
partitions (`scripts/metaheuristics.py:156-166,277-298`, R30/R31/R8/P2).
Catalyst has no hook for user-supplied per-row cost (AQE balances by data
size, not UDF runtime), so this stays a planning step OUTSIDE the
optimizer: the caller groups items by bin on the driver and runs one task
per bin (``fs.bbha._evaluate``: ``mapInPandas`` over ``spark.range(k)``
in ``k`` partitions, no exchange for AQE to coalesce), so the packing
decides real placement.
"""

from __future__ import annotations

import heapq
from collections.abc import Mapping, Sequence


def greedy_bin_assignment(
    costs: Mapping[int, float], n_bins: int
) -> dict[int, int]:
    """Longest-processing-time greedy: sort items by cost descending, always
    place into the currently lightest bin. Same objective as the constant-
    bin-number packing the reference uses (`metaheuristics.py:156-166`).

    Deterministic: ties broken by item id, bins by index.
    """
    if n_bins <= 0:
        raise ValueError("n_bins must be positive")
    heap = [(0.0, b) for b in range(n_bins)]
    heapq.heapify(heap)
    assignment: dict[int, int] = {}
    for item, cost in sorted(costs.items(), key=lambda kv: (-kv[1], kv[0])):
        if cost < 0:
            # Negative predicted time == broken cost model; the reference
            # aborts the job here (metaheuristics.py:262-269, R32).
            raise ValueError(f"negative predicted cost for item {item}: {cost}")
        load, b = heapq.heappop(heap)
        assignment[item] = b
        heapq.heappush(heap, (load + cost, b))
    return assignment


def sequential_bin_assignment(items: Sequence[int], n_bins: int) -> dict[int, int]:
    """The reference's fallback partitioner ``key * W // N``
    (`metaheuristics.py:290`, R8): contiguous ranges of items per bin."""
    n = len(items)
    if n == 0:
        return {}
    return {item: (idx * n_bins) // n for idx, item in enumerate(items)}


def bin_loads(
    costs: Mapping[int, float], assignment: Mapping[int, int], n_bins: int
) -> list[float]:
    """Total predicted cost per bin (for balance-quality metrics, the
    analog of the reference's idle-time accounting, R20)."""
    loads = [0.0] * n_bins
    for item, b in assignment.items():
        loads[b] += costs[item]
    return loads
