"""Summary statistics and span arithmetic for the benchmark report."""
import math
import statistics

# Percentiles the tail rule chooses from, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def nearest_rank(sorted_values, pct):
    """The nearest-rank percentile of an ascending list and its 0-based rank."""
    # rounded first: 99.9 / 100 * 10000 is 9990.000000000002 in binary
    i = max(0, math.ceil(round(pct / 100.0 * len(sorted_values), 9)) - 1)
    return sorted_values[i], i


def tail(values):
    """The highest percentile with at least ten samples beyond it.

    Returns (value, percentile, n); percentile is None and value the maximum
    when fewer than eleven samples exist.
    """
    xs = sorted(values)
    if not xs:
        return 0.0, None, 0
    for pct in TAIL_PERCENTILES:
        v, i = nearest_rank(xs, pct)
        if len(xs) - 1 - i >= 10:
            return v, pct, len(xs)
    return xs[-1], None, len(xs)


def median(values):
    """The median, or 0 for no values (a metric a workload does not exercise)."""
    return statistics.median(values) if values else 0.0


def geomean(values):
    """The geometric mean of positive values."""
    return math.exp(sum(math.log(v) for v in values) / len(values))


def union_ns(intervals):
    """Total length covered by a set of [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
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


def self_times(spans):
    """Self time of each span: its duration minus the part of it that its
    children cover (children clipped to the parent's interval).

    `spans` are dicts with id, parent, start_ns and end_ns. Returns {id: ns}.
    """
    by_id = {s["id"]: s for s in spans}
    kids = {}
    for s in spans:
        if s["parent"] in by_id:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        covered = union_ns([(max(c["start_ns"], lo), min(c["end_ns"], hi))
                            for c in kids.get(s["id"], []) if c["end_ns"] > lo and c["start_ns"] < hi])
        out[s["id"]] = (hi - lo) - covered
    return out


def attribute(spans, events):
    """Span id each Spark event belongs to: the span named by the event's
    span property when set, else the innermost span open at the event's time.
    """
    ids = {s["id"] for s in spans}
    ordered = sorted(spans, key=lambda s: s["start_ns"])
    out = []
    for ev in events:
        sid = int(ev["span"]) if ev.get("span") else None
        if sid is None or sid not in ids:
            t = ev["t_ms"] * 1e6
            inner = None
            for s in ordered:
                if s["start_ns"] > t:
                    break
                if s["end_ns"] >= t and not s.get("synthetic"):
                    inner = s  # later start within an open span = deeper
            sid = inner["id"] if inner else None
        out.append(sid)
    return out


def ancestors(spans):
    """{id: [id, parent, grandparent, ...]} for inclusive roll-ups."""
    by_id = {s["id"]: s for s in spans}
    out = {}
    for s in spans:
        chain, cur = [], s
        while cur is not None:
            chain.append(cur["id"])
            cur = by_id.get(cur["parent"])
        out[s["id"]] = chain
    return out
