"""Latency statistics shared by every workload.

Rules (pinned by selftest.py):
  * tail: the highest percentile that still has at least 10 samples beyond
    it, i.e. the 11th-highest sample; the percentile and the sample count
    are reported next to it;
  * charging: a failed, refused or wrong statement counts as taking the
    workload's latency limit, so fixing a failure can never read as a
    latency regression;
  * geomean: over distinct statements, of each statement's median.
"""
import math
import statistics

TAIL_BEYOND = 10


def charged(samples, limit_ms):
    """Latencies in ms with every failure charged the limit.

    `samples` holds (key, ms, ok) triples; returns [(key, ms)]."""
    return [(k, ms if ok else limit_ms) for k, ms, ok in samples]


def tail(values):
    """(value, percentile, n): the highest percentile with TAIL_BEYOND
    samples beyond it. With TAIL_BEYOND or fewer samples the maximum is
    returned as percentile 100 of n."""
    n = len(values)
    if n == 0:
        raise ValueError("no samples")
    s = sorted(values)
    if n <= TAIL_BEYOND:
        return s[-1], 100.0, n
    rank = n - TAIL_BEYOND  # 1-based rank; TAIL_BEYOND samples lie above it
    return s[rank - 1], 100.0 * rank / n, n


def median(values):
    return statistics.median(values)


def geomean_of_medians(pairs):
    """Geometric mean over distinct keys of each key's median value."""
    by_key = {}
    for k, v in pairs:
        by_key.setdefault(k, []).append(v)
    meds = [statistics.median(v) for v in by_key.values()]
    return math.exp(sum(math.log(max(m, 1e-6)) for m in meds) / len(meds))

