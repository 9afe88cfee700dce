"""Reductions the benchmark applies to one run's raw record: latency
statistics, interval arithmetic over spans and Spark jobs."""
import math
import statistics

BEYOND = 10  # samples that must lie above the reported tail


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(ok_times, n_failed):
    """The highest percentile with at least ``BEYOND`` samples above it.

    Failed ops count as samples above every latency.  Returns
    ``(value, percentile)``; with fewer than ``BEYOND + 1`` samples no such
    percentile exists and the slowest successful op is reported at 100.
    ``value`` is ``inf`` when failures reach down to the tail."""
    xs = sorted(ok_times) + [math.inf] * n_failed
    n = len(xs)
    if n == 0:
        return float("nan"), float("nan")
    if n <= BEYOND:
        return (max(ok_times) if ok_times else math.inf), 100.0
    return xs[n - BEYOND - 1], 100.0 * (n - BEYOND) / n


def union(intervals):
    """Total length covered by ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def covered(start, end, intervals):
    """Length of [start, end] covered by ``intervals`` (clipped to it)."""
    return union((max(s, start), min(e, end)) for s, e in intervals)


def self_times(spans):
    """Self time of every span: its duration minus the part of it that its
    child spans cover (overlapping children are counted once).  ``spans`` are
    dicts with id, parent, start, end; returns {id: self time}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - covered(s["start"], s["end"], kids.get(s["id"], []))
            for s in spans}


def driver_only(start, end, jobs):
    """Wall time of [start, end] during which no Spark job ran."""
    return (end - start) - covered(start, end, jobs)

