"""Summary statistics for the benchmark: percentiles and span self time."""

import math
import statistics
from fractions import Fraction

TAIL_CANDIDATES = (99.9, 99.0, 90.0, 50.0)


def _rank(p, n):
    """1-based nearest rank of percentile p among n samples, in exact
    arithmetic (99.9 / 100 * 10000 is 9990.000000000002 in floats)."""
    return max(1, math.ceil(Fraction(str(p)) * n / 100))


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no samples")
    return s[_rank(p, len(s)) - 1]


def tail_percentile(values):
    """The highest percentile with at least ten samples beyond it, as
    (p, value); None when even the median has fewer than ten beyond it."""
    n = len(values)
    for p in TAIL_CANDIDATES:
        if n - _rank(p, n) >= 10:
            return p, percentile(values, p)
    return None


def mix_latency(samples, weights):
    """Sum of weight x mean over the named sample lists that have samples,
    with the weights rescaled to sum to 1 over those present."""
    present = {k: w for k, w in weights.items() if samples.get(k)}
    total = sum(present.values())
    return sum(w / total * statistics.fmean(samples[k]) for k, w in present.items())


def self_times(spans):
    """Self time (ms) per span id: the span's duration minus the part of
    its interval that its child spans cover. Overlapping children count
    once, and a child's time outside its parent's interval is ignored."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ms"]):
            a, b = max(lo, c["start_ms"]), min(hi, c["end_ms"])
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out
