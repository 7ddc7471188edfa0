"""The benchmark's own arithmetic: percentiles, the tail rule, self time,
scaling efficiency and the failed-operation share. Pure Python, no Spark,
so ``perfbench/tests`` checks it without a session."""

from __future__ import annotations

import math

# the tail is the highest percentile with at least this many samples beyond
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (the ``numpy`` default method)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def tail_percentile(n: int) -> float:
    """The highest percentile with at least ``MIN_BEYOND`` of ``n`` samples
    beyond it: ``100·(1 − MIN_BEYOND/n)``, floored at the median. Below
    ``2·MIN_BEYOND`` samples no percentile above the median has enough
    samples beyond it, so the tail is the median; it is continuous in
    ``n``, so a run that fits one more sample moves it only slightly."""
    if n < 1:
        raise ValueError("tail of no samples")
    return max(50.0, 100.0 * (1.0 - MIN_BEYOND / n))


def tail(values: list[float]) -> dict:
    """The tail value with the record the rule needs:
    ``{"value", "percentile", "n", "beyond"}``, where ``beyond`` counts the
    samples ranked above the percentile."""
    n = len(values)
    p = tail_percentile(n)
    beyond = n - math.ceil(round(n * p / 100.0, 9))
    return {"value": percentile(values, p), "percentile": p, "n": n, "beyond": beyond}


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of ``[start, end]`` that its child
    spans cover. Children may overlap each other or stick out of the
    parent; the covered part is the union of their clipped intervals."""
    clipped = sorted(
        (max(s, start), min(e, end)) for s, e in children if min(e, end) > max(s, start)
    )
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


def scaling_eff(tps_wide: float, tps_narrow: float, factor: int = 4) -> float:
    """tps(N·factor slots) / (factor · tps(N slots)); 1.0 is linear."""
    if tps_narrow <= 0:
        raise ValueError("narrow-run throughput must be positive")
    return tps_wide / (factor * tps_narrow)


def failed_frac(attempted: int, failed: int) -> float:
    """Failed operations over attempted ones; exceptions and failed output
    checks both count as failures."""
    if attempted < 1:
        raise ValueError("no operation attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted
