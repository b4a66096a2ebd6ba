"""Pure helpers behind the benchmark's figures: medians, the tail
percentile, interval unions and the three-way split of a span's wall time.

Intervals are (start, end) pairs in one time unit (epoch milliseconds in
the benchmark); empty or inverted intervals are ignored.
"""

import math
import statistics

# Tail candidates, highest first. The tail is the highest one that still
# leaves at least TAIL_MIN_BEYOND samples strictly above it.
TAIL_LADDER = (99.9, 99.0, 98.0, 95.0, 90.0, 80.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10


def median(values):
    return statistics.median(values) if values else None


def tail(values):
    """(value, percentile, samples) for the highest ladder percentile with
    at least TAIL_MIN_BEYOND samples beyond it, or None if there is none.
    The value is the nearest-rank percentile of the samples."""
    xs = sorted(values)
    n = len(xs)
    for p in TAIL_LADDER:
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= TAIL_MIN_BEYOND:
            return xs[rank - 1], p, n
    return None


def union(intervals):
    """Merge overlapping or touching intervals into a sorted disjoint list."""
    out = []
    for a, b in sorted((a, b) for a, b in intervals if b > a):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [tuple(iv) for iv in out]


def length(intervals):
    return sum(b - a for a, b in union(intervals))


def clip(intervals, lo, hi):
    """The parts of `intervals` that fall inside [lo, hi]."""
    return [(max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)]


def split_wall(lo, hi, jobs, actions):
    """Partition the wall time of span [lo, hi] three ways:
    - job: covered by at least one Spark job;
    - gap: inside an SQL action but outside every job;
    - outside: inside neither.
    The three parts add up to hi - lo exactly."""
    j = clip(jobs, lo, hi)
    a = clip(actions, lo, hi)
    job = length(j)
    covered = length(j + a)
    return job, covered - job, (hi - lo) - covered


def op_time_by_round(ops):
    """Round -> seconds spent in that round's timed operations, from op
    records with `round` and epoch-ms `t0`/`t1`."""
    out = {}
    for o in ops:
        out[o["round"]] = out.get(o["round"], 0.0) + (o["t1"] - o["t0"]) / 1e3
    return out


def self_time(lo, hi, children):
    """Wall time of span [lo, hi] not covered by any of its child spans."""
    return (hi - lo) - length(clip(children, lo, hi))

