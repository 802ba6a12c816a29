"""Arithmetic of the benchmark: percentiles, the tail rule, open-loop latency,
generator lateness, backlog detection, interval unions and span self time.

Pure functions over plain lists and dicts, so test_stats.py can check them
without a JVM.
"""
import math
import statistics

# Percentiles the tail rule may pick from, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 80.0, 75.0, 70.0, 66.0, 50.0)
MIN_BEYOND = 10


def percentile(values, p):
    """Linear-interpolated p-th percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = (len(xs) - 1) * p / 100.0
    lo = math.floor(rank)
    hi = math.ceil(rank)
    return xs[lo] + (xs[hi] - xs[lo]) * (rank - lo)


def beyond(n, p):
    """How many of n samples lie above the p-th percentile."""
    return n - 1 - math.floor((n - 1) * p / 100.0)


def tail_percentile(n, ladder=TAIL_LADDER):
    """The highest percentile with at least MIN_BEYOND samples beyond it."""
    for p in ladder:
        if beyond(n, p) >= MIN_BEYOND:
            return p
    return None


def union_ms(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    end = -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def clip(intervals, a, b):
    return [(max(x, a), min(y, b)) for x, y in intervals if y > a and x < b]


def self_times(spans):
    """Self time of every span: its duration minus the part of its interval
    its child spans cover. `spans` are dicts with id, name, start, end,
    parent. Returns {name: total self ms}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered = union_ms(clip(children.get(s["id"], []), s["start"], s["end"]))
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
    return out


def commit_ms(batch):
    """A micro-batch is committed when its trigger ends."""
    return batch["trigger_start_ms"] + batch["durations"].get("triggerExecution", 0)


def landed_ms(offset, batches_by_query):
    """When a chunk (source offset) is landed in every sink: the latest, over
    the queries, of the commit of the batch whose offset range holds it.
    None if some query never processed it."""
    latest = -math.inf
    for batches in batches_by_query.values():
        hit = [commit_ms(b) for b in batches
               if b["start_offset"] < offset <= b["end_offset"]]
        if not hit:
            return None
        latest = max(latest, min(hit))
    return latest


def line_latencies(chunks, batches_by_query):
    """Open-loop latency of every line, from its due time to the commit that
    lands it in every sink. A chunk is (offset, first_due_ms, slot_ms,
    lines, added_ms); its lines are due evenly over its slot, so a stall
    that delays one chunk is charged to every line due during the stall.
    Returns (latencies, per-chunk (due_end_ms, latency of last line))."""
    lat = []
    per_chunk = []
    for off, first_due, slot, n, _added in chunks:
        done = landed_ms(off, batches_by_query)
        if done is None:
            raise ValueError(f"chunk at offset {off} never landed")
        for j in range(n):
            lat.append(done - (first_due + slot * j / n))
        per_chunk.append((first_due + slot, done - (first_due + slot)))
    return lat, per_chunk


def lateness(chunks):
    """How late the generator offered each chunk after its last line was due."""
    return [max(0.0, added - (first_due + slot)) for _o, first_due, slot, _n, added in chunks]


def slope(points):
    """Least-squares slope of (x, y) points."""
    n = len(points)
    mx = sum(x for x, _ in points) / n
    my = sum(y for _, y in points) / n
    sxx = sum((x - mx) ** 2 for x, _ in points)
    if sxx == 0:
        return 0.0
    return sum((x - mx) * (y - my) for x, y in points) / sxx


def backlog(per_chunk, trigger_ms):
    """A backlog grows when the offered rate exceeds the drain rate: the
    latency of successive chunks keeps rising. Flags it when latency grows by
    more than 5% of elapsed time and the last quarter of chunks waits at
    least one trigger interval longer than the first quarter."""
    if len(per_chunk) < 8:
        return False
    q = len(per_chunk) // 4
    first = statistics.mean(l for _, l in per_chunk[:q])
    last = statistics.mean(l for _, l in per_chunk[-q:])
    return slope(per_chunk) > 0.05 and last - first > trigger_ms


def sustained_rate(chunks, latest_landed_ms):
    """Lines landed per second, from the first line's due time to the last
    commit."""
    lines = sum(c[3] for c in chunks)
    first_due = min(c[1] for c in chunks)
    return lines / ((latest_landed_ms - first_due) / 1000.0)

