"""Statistics and the result line of the graft benchmark.

Everything here is pure: run.py feeds it the records the JVM side wrote,
and tests/test_stats.py pins its rules.
"""
import json
import statistics

# Percentiles considered for the tail, highest first, in tenths of a
# percent so the rank arithmetic stays exact.
TAIL_LADDER = (999, 990, 950, 900, 750, 500)
MIN_BEYOND = 10


def median(values):
    return statistics.median(values)


def quartiles(values):
    """(Q1, median, Q3) as statistics.quantiles(values, n=4) gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    return tuple(statistics.quantiles(values, n=4))


def spread(values):
    """Interquartile distance as a share of the median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else 0.0


def rank(n, permille):
    """Nearest rank (1-based) of the permille/10 percentile of n samples."""
    return max(1, -(-n * permille // 1000))


def tail(values):
    """(percentile, value) for the highest percentile of TAIL_LADDER that
    leaves at least MIN_BEYOND samples ranked above it, or None when fewer
    than 2 * MIN_BEYOND samples exist."""
    n = len(values)
    s = sorted(values)
    for pm in TAIL_LADDER:
        r = rank(n, pm)
        if n - r >= MIN_BEYOND:
            return pm / 10, s[r - 1]
    return None


def union_ms(spans, lo, hi):
    """Total length of the union of (start, end) spans clipped to [lo, hi]."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in spans)
    total, cur_s, cur_e = 0, None, None
    for s, e in clipped:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_gap_ms(wall_ms, t0_ms, t1_ms, jobs):
    """Call wall time not covered by any of its Spark jobs."""
    return max(0.0, wall_ms - union_ms(jobs, t0_ms, t1_ms))


def result_line(correct, attempted, failed, metrics):
    """The benchmark's last stdout line. `metrics` maps name -> (value, unit)."""
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    })
