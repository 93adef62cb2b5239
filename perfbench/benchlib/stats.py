"""Percentiles, due times and commit-lag attribution."""
import numpy as np


def percentile(values, q):
    """Linear-interpolated percentile of `values`, q in [0, 100]."""
    xs = np.sort(np.asarray(values, dtype=np.float64))
    if len(xs) == 0:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (pos - lo))


def median(values):
    return percentile(values, 50)


def due_ms(indices, rate_per_shard):
    """Due time of record i of a shard, in ms after the run's start: record i
    becomes visible once i / rate seconds have passed. A rate of 0 means a
    backlog, due at the start."""
    idx = np.asarray(indices, dtype=np.float64)
    if rate_per_shard <= 0:
        return np.zeros_like(idx)
    return idx * 1000.0 / rate_per_shard


def commit_lags(saves, n_records, rate_per_shard):
    """Per-record commit lag for one shard.

    `saves` is the shard's checkpoint saves as (sequence index, ms after the
    run's start). A record is committed by the first save, in time order, at
    or past its index. Returns the lag (commit time minus due time, ms) of
    records 0..n_records-1; raises if any record was never committed.
    """
    if n_records == 0:
        return np.zeros(0)
    ordered = sorted(saves, key=lambda s: s[1])
    covered = np.maximum.accumulate(np.array([s[0] for s in ordered], dtype=np.int64))
    times = np.array([s[1] for s in ordered], dtype=np.float64)
    idx = np.arange(n_records, dtype=np.int64)
    pos = np.searchsorted(covered, idx, side="left")
    if len(ordered) == 0 or pos[-1] >= len(ordered):
        raise ValueError(f"records up to {n_records - 1} were never checkpointed")
    return times[pos] - due_ms(idx, rate_per_shard)


def spread(values):
    """Distance between the first and third quartile as a share of the
    median, with quartiles as `statistics.quantiles(values, n=4)` gives them."""
    import statistics
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
