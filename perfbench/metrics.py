"""Pure helpers that turn a run's raw record into metrics.

Kept free of I/O so the rules the benchmark reports by are unit-tested:
percentiles and the "highest percentile with >= 10 samples beyond it"
rule, span self time, the union of job intervals, and pacer lateness.
"""
import math
import statistics

# Percentiles the tail rule may pick, highest first.
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0)


def percentile(values, pct):
    """Nearest-rank percentile (pct in 0..100) of a non-empty sequence."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = _rank(len(xs), pct)
    return xs[rank - 1]


def beyond(n, pct):
    """Samples strictly above the nearest-rank `pct` percentile of n."""
    return n - _rank(n, pct)


def _rank(n, pct):
    # rounded first so that e.g. 99.9% of 10000 is rank 9990, not 9991
    return max(1, math.ceil(round(pct * n / 100.0, 9)))


def tail_percentile(n, min_beyond=10):
    """Highest candidate percentile with at least `min_beyond` of n samples
    beyond it, or 50 (the median) when no candidate qualifies."""
    for p in TAIL_CANDIDATES:
        if beyond(n, p) >= min_beyond:
            return p
    return 50.0


def slowest_median(samples):
    """(name, median) of the name whose samples have the highest median;
    `samples` maps a name to its non-empty list of values."""
    name = max(samples, key=lambda n: statistics.median(samples[n]))
    return name, statistics.median(samples[name])


def union_length(intervals):
    """Total length covered by the union of (start, end) intervals."""
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


def uncovered(window, intervals):
    """Length of `window` = (start, end) that no interval covers."""
    ws, we = window
    clipped = [(max(s, ws), min(e, we)) for s, e in intervals]
    return (we - ws) - union_length(clipped)


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    that its child spans cover. Spans are dicts with id, parent, start_us
    and end_us; returns {id: self_us}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_us"], s["end_us"]))
    return {s["id"]: uncovered((s["start_us"], s["end_us"]), children.get(s["id"], []))
            for s in spans}


def self_by_layer(spans):
    """Summed self time per layer, seconds."""
    own = self_times(spans)
    out = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + own[s["id"]] / 1e6
    return out


def lateness(scheduled, actual):
    """Per-event lateness of a pacer: how long after its scheduled instant
    each event was actually issued (never negative)."""
    return [max(0, a - s) for s, a in zip(scheduled, actual)]


def quartile_spread(values):
    """(Q3 - Q1) / median, by statistics.quantiles(n=4)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def slice_latencies(slices, batches):
    """Open-loop latency per slice, ms: from the slice's scheduled landing
    time to the end of the last sink batch that read one of its files.
    Slices with a file no batch read are left out (the caller's row-count
    check fails them)."""
    end_of = {}
    for b in batches:
        for f in b["files"]:
            end_of[f] = max(end_of.get(f, 0), b["end_us"])
    out = []
    for s in slices:
        if s["files"] and all(f in end_of for f in s["files"]):
            out.append((max(end_of[f] for f in s["files"]) - s["due_us"]) / 1000.0)
    return out


def time_to_block(first_slice, slices, versions, batches):
    """Per blocked IP, seconds from the scheduled landing of its first
    slice to the end of the first sink batch that started after a snapshot
    holding the IP was published."""
    due = {s["k"]: s["due_us"] for s in slices}
    published = {}
    for v in sorted(versions, key=lambda v: v["publish_us"]):
        for ip in v["ips"]:
            published.setdefault(ip, v["publish_us"])
    out = []
    for ip, k in sorted(first_slice.items()):
        if ip not in published or k not in due:
            continue
        ends = [b["end_us"] for b in batches if b["start_us"] >= published[ip]]
        if ends:
            out.append((min(ends) - due[k]) / 1e6)
    return out


def backlog_max(slices, batches):
    """Most files landed but not yet read at the start of any sink batch."""
    read, best = 0, 0
    for b in sorted(batches, key=lambda b: b["start_us"]):
        landed = sum(len(s["files"]) for s in slices if s["actual_us"] <= b["start_us"])
        best = max(best, landed - read)
        read += len(b["files"])
    return best
