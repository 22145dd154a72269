"""Arithmetic shared by the benchmark, the layer table and the compare
command. Pure functions over plain numbers, so tests can pin them."""

from __future__ import annotations

import math
import statistics
from typing import Dict, Iterable, List, Optional, Sequence, Tuple

# Percentiles reported as tails, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values: Sequence[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default definition)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n: int, beyond: int = 10) -> Optional[float]:
    """Highest percentile of TAIL_LADDER with at least ``beyond`` of ``n``
    samples above it, or None when even the median has fewer."""
    for p in TAIL_LADDER:
        if round(n * (100.0 - p) / 100.0, 9) >= beyond:
            return p
    return None


def summarize(values: Sequence[float]) -> Dict[str, object]:
    """Median, sample count and the highest supported tail percentile."""
    out: Dict[str, object] = {"n": len(values),
                              "p50": statistics.median(values)}
    tp = tail_percentile(len(values))
    if tp is not None and tp > 50.0:
        out["tail_p"] = tp
        out["tail"] = percentile(values, tp)
    return out


def geomean(values: Iterable[float]) -> float:
    xs = list(values)
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def union_length(intervals: Iterable[Tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end] intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals: Iterable[Tuple[float, float]], start: float,
         end: float) -> List[Tuple[float, float]]:
    """The parts of ``intervals`` that fall inside [start, end]."""
    return [(max(s, start), min(e, end)) for s, e in intervals
            if min(e, end) > max(s, start)]


def self_time(span: Tuple[float, float],
              children: Iterable[Tuple[float, float]]) -> float:
    """A span's duration minus the part of it its child spans cover."""
    s, e = span
    return (e - s) - union_length(clip(children, s, e))


def driver_only_time(op: Tuple[float, float],
                     jobs: Iterable[Tuple[float, float]]) -> float:
    """Op wall time during which no Spark job of the op was running."""
    return self_time(op, jobs)


# How an op's wall time grows with hypervisor steal. Fit on a 4-vCPU VM
# over 121 ops that ran while more than 0.3 s was stolen, in 38 runs of
# both workloads: an op that ran while a share ``f`` of the VM's CPU time
# was stolen took about 1 / (1 - f) ** 3 times the median time of its op
# type without steal (median error 7%; 7.5% for the best fit of the form
# wall - k * stolen, whose k fell from 0.85 to 0.55 as f grew).
STEAL_EXPONENT = 3
# Shares above this, beyond any measured, count as this.
MAX_STEAL_SHARE = 0.5


def net_of_steal(wall: float, stolen: float, cores: int) -> float:
    """Wall time net of hypervisor steal: the latency the op would have
    had on CPUs of its own, given ``stolen``, the CPU time the hypervisor
    gave other guests while it ran, summed over the VM's ``cores`` CPUs.
    On dedicated hardware ``stolen`` is 0 and this is ``wall``."""
    share = min(stolen / (wall * cores), MAX_STEAL_SHARE)
    return wall * (1.0 - share) ** STEAL_EXPONENT


def quartiles(values: Sequence[float]) -> Tuple[float, float, float]:
    """(Q1, median, Q3) as ``statistics.quantiles(values, n=4)`` gives."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def verdict(parent: Sequence[float], change: Sequence[float], bound: float,
            higher_is_better: bool) -> Dict[str, object]:
    """Compare runs of one metric on one workload (parent vs change).

    Pairs are taken in order (run i of each side). A change *improved*
    when it wins at least 9/10 of the pairs (ties win for neither) and
    the medians differ by more than the parent's inter-quartile distance.
    It is *worse* when the change's median is worse than the parent's by
    more than ``bound`` (a share of the parent's median) and every change
    run is worse than every parent run, however wide the spread.
    Otherwise, when either side's spread exceeds the bound, the result is
    *unresolved* unless every change run beats every parent run. Else it
    is *worse* when the medians differ by more than the bound, and *no
    worse* otherwise."""
    if len(parent) < 2 or len(change) < 2:
        raise ValueError("need at least two runs per side")
    sign = 1.0 if higher_is_better else -1.0
    pairs = list(zip(parent, change))
    wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
    win_fraction = wins / len(pairs)
    pq1, pmed, pq3 = quartiles(parent)
    cq1, cmed, cq3 = quartiles(change)
    all_better = (min(change) > max(parent) if higher_is_better
                  else max(change) < min(parent))
    all_worse = (max(change) < min(parent) if higher_is_better
                 else min(change) > max(parent))
    worse_by = sign * (pmed - cmed) / pmed
    if win_fraction >= 0.9 and abs(cmed - pmed) > (pq3 - pq1):
        label = "improved"
    elif worse_by > bound and all_worse:
        label = "worse"
    elif (max((pq3 - pq1) / pmed, (cq3 - cq1) / cmed) > bound
          and not all_better):
        label = "unresolved"
    elif worse_by > bound:
        label = "worse"
    else:
        label = "no worse"
    return {"parent": (pq1, pmed, pq3), "change": (cq1, cmed, cq3),
            "win_fraction": win_fraction, "worse_by": worse_by,
            "verdict": label}
