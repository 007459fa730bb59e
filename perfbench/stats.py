"""The benchmark's own arithmetic, kept free of Spark so it can be tested
on its own (``python3 -m pytest perfbench``)."""

from __future__ import annotations

import random
import statistics
from collections.abc import Sequence


def seeded_order(items: Sequence[str], seed: int) -> list[str]:
    """``items`` shuffled by ``seed``: the same seed gives the same order,
    whatever order ``items`` arrives in."""
    out = sorted(items)
    random.Random(seed).shuffle(out)
    return out


def self_time(span: tuple[float, float], children: Sequence[tuple[float, float]]) -> float:
    """Duration of ``span`` minus the part of it its children cover.

    Children may overlap each other and stick out of the parent; only the
    union of their intersections with the parent is subtracted.
    """
    start, end = span
    clipped = sorted((max(s, start), min(e, end)) for s, e in children if e > start and s < end)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (end - start) - covered


def failed_share(attempted: int, failed: int) -> float:
    """Failed operations over attempted ones; an empty run is an error,
    not a perfect score."""
    if attempted < 1:
        raise ValueError("no operation attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, {attempted}]")
    return failed / attempted


def iqr_share(values: Sequence[float]) -> float:
    """Distance between the first and third quartile over the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med
