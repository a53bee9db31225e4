"""Statistics the benchmark reports, kept apart so they can be tested."""
import math
import re

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def median(xs):
    xs = sorted(xs)
    if not xs:
        raise ValueError("median of no samples")
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def geomean(xs):
    if not xs or any(x <= 0 for x in xs):
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    xs = sorted(xs)
    if not xs:
        raise ValueError("percentile of no samples")
    return xs[max(0, math.ceil(p / 100 * len(xs)) - 1)]


def highest_percentile(n, beyond=10):
    """The highest whole percentile of n samples that still has at least
    `beyond` samples above it, or None when n is too small."""
    for p in range(99, 0, -1):
        if n - math.ceil(p / 100 * n) >= beyond:
            return p
    return None


def count_failures(ops):
    """ops: iterable of booleans, True for an operation that succeeded.
    Returns (attempted, failed)."""
    ops = list(ops)
    return len(ops), sum(1 for ok in ops if not ok)


def valid_name(name):
    return bool(NAME.fullmatch(name)) and len(name) <= 64


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
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
    """Per-layer self time: each span's duration minus the part of its
    interval its children cover, summed by layer. Spans are dicts with
    id, parent, layer, start_ms and end_ms."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        start, end = s["start_ms"], s["end_ms"]
        covered = union_length(
            (max(c["start_ms"], start), min(c["end_ms"], end))
            for c in children.get(s["id"], []) if c["start_ms"] < end and c["end_ms"] > start)
        out[s["layer"]] = out.get(s["layer"], 0.0) + (end - start - covered) / 1e3
    return out
