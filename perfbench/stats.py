"""Summary statistics and trace arithmetic for the component benchmark."""

import statistics

# percentiles a timing may be reported at, lowest first
PERCENTILES = (50, 75, 90, 95, 99)
MIN_BEYOND = 10


def median(values):
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def tail_percentile(values):
    """The highest of PERCENTILES above the median with at least MIN_BEYOND
    samples beyond it, as (p, value); None when there is none (fewer than
    40 samples), and the median then stands alone."""
    n = len(values)
    best = None
    for p in PERCENTILES[1:]:
        if n * (100 - p) / 100 >= MIN_BEYOND:
            best = p
    if best is None:
        return None
    ordered = sorted(values)
    # nearest-rank percentile
    rank = max(1, -(-best * n // 100))
    return best, ordered[rank - 1]


def summary(values):
    """Median, sample count and tail percentile of one timing."""
    out = {"median": median(values), "n": len(values)}
    tail = tail_percentile(values)
    if tail:
        out["p%d" % tail[0]] = tail[1]
    return out


def covered(intervals):
    """Total length covered by a union of (start, end) intervals."""
    total = 0.0
    end_so_far = None
    for s, e in sorted(intervals):
        if end_so_far is None or s > end_so_far:
            total += e - s
            end_so_far = e
        elif e > end_so_far:
            total += e - end_so_far
            end_so_far = e
    return total


def self_time(span, children):
    """A span's duration minus the part of it its child spans cover."""
    s, e = span["start_s"], span["end_s"]
    clipped = [(max(s, c["start_s"]), min(e, c["end_s"])) for c in children]
    return (e - s) - covered([(a, b) for a, b in clipped if b > a])


def duration(span):
    return span["end_s"] - span["start_s"]


def critical_path(batches):
    """Σ over batches of the slowest query: the executor's floor when every
    query of a batch runs at once."""
    return sum(max(q["s"] for q in b) for b in batches if b)


def barrier_idle(batches):
    """Σ over batches of Σ (slowest − q): thread-seconds that finished
    queries wait at their batch barrier (exact when a batch has no more
    queries than threads)."""
    total = 0.0
    for b in batches:
        if b:
            slowest = max(q["s"] for q in b)
            total += sum(slowest - q["s"] for q in b)
    return total
