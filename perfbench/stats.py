"""Arithmetic of the benchmark: medians and spreads, interval unions,
and the per-span ledger (wall = plan + job union + driver gap).

Times are epoch milliseconds in, seconds out.
"""

import statistics


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """First and third quartile, as `statistics.quantiles(xs, n=4)`."""
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def spread(xs):
    """Inter-quartile distance as a share of the median."""
    q1, q3 = quartiles(xs)
    return (q3 - q1) / median(xs)


def union(intervals, lo=None, hi=None):
    """Merge (start, end) intervals, optionally clipped to [lo, hi];
    returns a sorted list of disjoint intervals."""
    out = []
    for s, e in sorted(intervals):
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e <= s:
            continue
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [tuple(x) for x in out]


def measure(merged):
    return sum(e - s for s, e in merged)


def intersect(a, b):
    """Intersection of two merged interval lists."""
    out, i, j = [], 0, 0
    while i < len(a) and j < len(b):
        s, e = max(a[i][0], b[j][0]), min(a[i][1], b[j][1])
        if s < e:
            out.append((s, e))
        if a[i][1] < b[j][1]:
            i += 1
        else:
            j += 1
    return out


# the ten counters of a span, with their units
COUNTERS = {"wall_s": "s", "plan_s": "s", "driver_gap_s": "s",
            "jobs": "count", "task_s": "s", "task_cpu_s": "s",
            "input_mb": "MB", "output_mb": "MB", "shuffle_records": "count",
            "spill_mb": "MB"}


def span_ledger(start, end, jobs, queries):
    """The ten counters of one span [start, end].

    A job belongs to the span it started in. `plan_s` is the part of
    the span's planning intervals (analysis, optimization, planning of
    each query) that no job of the span overlaps, so that
    wall_s = plan_s + job union + driver_gap_s holds exactly and every
    term is >= 0 (barring clock skew between driver threads)."""
    mine = [j for j in jobs if start <= j["start_ms"] < end]
    ends = [j["end_ms"] if j["end_ms"] >= 0 else end for j in mine]
    busy = union([(j["start_ms"], e) for j, e in zip(mine, ends)],
                 start, end)
    phases = union([tuple(p) for q in queries for p in q["phases"]],
                   start, end)
    plan_ms = measure(phases) - measure(intersect(phases, busy))
    wall_ms = end - start
    mb = 1024.0 * 1024.0
    return {
        "wall_s": wall_ms / 1e3,
        "plan_s": plan_ms / 1e3,
        "union_s": measure(busy) / 1e3,
        "driver_gap_s": (wall_ms - measure(busy) - plan_ms) / 1e3,
        "jobs": len(mine),
        "task_s": sum(j["task_ms"] for j in mine) / 1e3,
        "task_cpu_s": sum(j["cpu_ns"] for j in mine) / 1e9,
        "input_mb": sum(j["input_bytes"] for j in mine) / mb,
        "output_mb": sum(j["output_bytes"] for j in mine) / mb,
        "shuffle_records": sum(j["shuffle_records"] for j in mine),
        "spill_mb": sum(j["spill_bytes"] for j in mine) / mb,
    }


def pass_ledger(p):
    """Per span name, the counters of a traced pass summed over every
    call of that name (e.g. the K increments of a refresh pass)."""
    out = {}
    for s in p["spans"]:
        led = span_ledger(s["start_ms"], s["end_ms"], p["jobs"],
                          p["queries"])
        acc = out.setdefault(s["name"], dict.fromkeys(led, 0.0))
        for k, v in led.items():
            acc[k] += v
    return out
