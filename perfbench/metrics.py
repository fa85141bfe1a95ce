"""Pure metric arithmetic, kept apart from I/O so the self-tests cover it."""
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def valid_name(name):
    return bool(NAME_RE.match(name))


def valid_unit(unit):
    return bool(UNIT_RE.match(unit))


def median(xs):
    return statistics.median(xs) if xs else 0.0


def gmean(xs):
    return statistics.geometric_mean(xs) if xs else 0.0


def tail(xs, cap=99.0, beyond=10):
    """The highest nearest-rank percentile, at most `cap`, that leaves at
    least `beyond` samples strictly above its rank. Returns (value,
    percentile); needs more than `beyond` samples."""
    n = len(xs)
    if n <= beyond:
        raise ValueError(f"{n} samples leave no percentile with {beyond} beyond it")
    s = sorted(xs)
    k = min(math.ceil(cap / 100.0 * n) - 1, n - beyond - 1)
    return s[k], 100.0 * (k + 1) / n


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals`, optionally clipped to [lo, hi]."""
    spans = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            spans.append((a, b))
    total, end = 0, None
    for a, b in sorted(spans):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(spans):
    """Self time per span id: its duration minus the part of it its
    children cover (children may overlap one another). `spans` is a list
    of (id, parent, start, end)."""
    children = {}
    for sid, parent, a, b in spans:
        children.setdefault(parent, []).append((a, b))
    return {sid: (b - a) - union_length(children.get(sid, []), a, b) for sid, _, a, b in spans}


def same_fingerprint(a, b, rel=1e-7):
    """Two item fingerprints (rows, hash, float sum, float abs sum) agree:
    rows and hash exactly, the float sum within `rel` of the larger
    absolute sum, as summation order may differ."""
    return a[0] == b[0] and a[1] == b[1] and abs(a[2] - b[2]) <= rel * max(1.0, a[3], b[3])


def failed_ratio(attempted, failed):
    if attempted < 1:
        raise ValueError("no operation attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..attempted={attempted}")
    return failed / attempted


def spread(values):
    """Inter-quartile range as a share of the median, as the benchmark's
    steadiness is judged."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
