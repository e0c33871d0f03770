"""Percentiles, span self time and per-layer aggregation for kgbench."""

import statistics

# Candidate percentiles for a tail figure, lowest to highest.
PERCENTILES = (50, 75, 90, 95, 99, 99.9)


def percentile(values, p):
    """Linear-interpolated percentile p (0-100) of a non-empty sample."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    rank = p / 100.0 * (len(xs) - 1)
    lo = int(rank)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (rank - lo)


def tail_percentile(values, min_beyond=10, candidates=PERCENTILES):
    """The highest candidate percentile with at least `min_beyond` samples
    above it, as (p, value); None when even the lowest has too few."""
    n = len(values)
    best = None
    for p in candidates:
        if n * (100 - p) / 100.0 >= min_beyond - 1e-9:
            best = p
    return None if best is None else (best, percentile(values, best))


def median(values):
    return statistics.median(values) if values else 0.0


def mix_median(by_kind, weights):
    """Weighted mean over operation kinds of each kind's median latency,
    with the weights renormalised over the kinds that have samples. Unlike
    the median of the pooled sample, it does not jump when a few requests
    cross the boundary between the fast and the slow kinds."""
    present = [k for k in weights if by_kind.get(k)]
    total = sum(weights[k] for k in present)
    return sum(weights[k] * median(by_kind[k]) for k in present) / total


def merge(intervals):
    """Union of (start, end) intervals as sorted, disjoint intervals."""
    out = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [tuple(i) for i in out]


def covered(start, end, intervals):
    """Length of [start, end] covered by the union of `intervals`."""
    clipped = [(max(s, start), min(e, end)) for s, e in intervals]
    return sum(e - s for s, e in merge(clipped))


def self_times(spans, jobs):
    """Driver-side self time per span id: the span's wall time minus the
    part covered by its child spans or by jobs charged to it. Jobs may
    overlap each other, run in parallel with child spans, or outlive the
    span; each instant counts once and only inside the span."""
    busy = {s["id"]: [] for s in spans}
    for s in spans:
        if s.get("parent") in busy:
            busy[s["parent"]].append((s["start_ms"], s["end_ms"]))
    for j in jobs:
        if j.get("span") in busy:
            end = j["end_ms"] if j["end_ms"] >= j["start_ms"] else j["start_ms"]
            busy[j["span"]].append((j["start_ms"], end))
    return {s["id"]: (s["end_ms"] - s["start_ms"])
            - covered(s["start_ms"], s["end_ms"], busy[s["id"]])
            for s in spans}


def layer_stats(spans, jobs, plans):
    """Per span name: call count and the six per-call stats.

    `ms` and `driver_ms` are medians per call; `jobs`, `plan_ms`,
    `shuffle_bytes` and `stored_bytes` are means per call."""
    selft = self_times(spans, jobs)
    per_span = {s["id"]: {"jobs": 0, "plan_ms": 0.0, "shuffle_bytes": 0,
                          "stored_bytes": 0} for s in spans}
    for j in jobs:
        acc = per_span.get(j.get("span"))
        if acc is not None:
            acc["jobs"] += 1
            acc["shuffle_bytes"] += j["shuffle_bytes"]
            acc["stored_bytes"] += j["stored_bytes"]
    for p in plans:
        acc = per_span.get(p.get("span"))
        if acc is not None:
            acc["plan_ms"] += p["plan_ms"]
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    out = {}
    for name, group in by_name.items():
        accs = [per_span[s["id"]] for s in group]
        n = len(group)
        out[name] = {
            "calls": n,
            "ms": median([s["end_ms"] - s["start_ms"] for s in group]),
            "jobs": sum(a["jobs"] for a in accs) / n,
            "plan_ms": median([a["plan_ms"] for a in accs]),
            "driver_ms": median([selft[s["id"]] for s in group]),
            "shuffle_bytes": sum(a["shuffle_bytes"] for a in accs) / n,
            "stored_bytes": sum(a["stored_bytes"] for a in accs) / n,
        }
    return out
