"""Pure helpers: percentiles, the tail rule, and the counter replay model."""

from __future__ import annotations

import math
from collections.abc import Sequence

#: Percentiles the tail rule may report, highest first.
TAIL_LADDER = (90, 80, 60, 50)


def percentile(values: Sequence[float], p: float) -> float:
    """Linear-interpolated ``p``-th percentile (numpy's default rule)."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n: int) -> int | None:
    """The highest percentile of ``TAIL_LADDER`` that has at least ten of
    ``n`` samples beyond it, or None when no rung has."""
    for p in TAIL_LADDER:
        if n * (100 - p) / 100.0 >= 10:
            return p
    return None


def tail(values: Sequence[float]) -> tuple[float, str]:
    """(value, label) of the tail by the tail rule; the maximum, labelled
    ``max``, when the sample is too small for any percentile."""
    p = tail_percentile(len(values))
    if p is None:
        return max(values), "max"
    return percentile(values, p), f"p{p}"


class CounterModel:
    """The benchmark's own replay of the joined-vehicle counter.

    The service keeps the counter as an append-only log folded
    last-writer-wins: the value is the last ``set`` plus every later
    increment and decrement, and 0 while the log is empty. Every call
    returns the value the service must answer with.
    """

    def __init__(self) -> None:
        self.value = 0
        self.log_files = 0

    def apply(self, op: str, arg: int | None = None) -> int:
        if op == "increase_joined_count":
            self.value += 1
        elif op == "decrease_joined_count":
            self.value -= 1
        elif op == "set_joined_count":
            if arg is None:
                raise ValueError("set_joined_count needs a value")
            self.value = arg
        elif op != "get_joined_count":
            raise ValueError(f"not a counter op: {op}")
        if op != "get_joined_count":
            self.log_files += 1
        return self.value
