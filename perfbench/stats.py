"""Pure helpers of run.py: percentiles, open-loop timing and
the lookup answer check. Kept free of I/O so they can be unit-tested."""
import statistics

import numpy as np


def percentile(values, q):
    """q-th percentile (0..100) with linear interpolation between closest
    ranks; the same definition as numpy's default."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no values")
    rank = (len(s) - 1) * q / 100.0
    lo = int(rank)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (rank - lo)


def median(values):
    return percentile(values, 50)


def open_loop_times(due_ns, sent_ns, done_ns):
    """Latency of each request measured from when it was due, so a stall
    also charges the requests queued behind it, and how late the generator
    sent each one."""
    due = np.asarray(due_ns, dtype=np.int64)
    latency = np.asarray(done_ns, dtype=np.int64) - due
    lateness = np.asarray(sent_ns, dtype=np.int64) - due
    return latency, lateness


def lookup_failures(idx, size, files, truth_a, truth_b):
    """Number of lookups whose answer equals neither delivery's value for
    that address. `idx` indexes the address universe; addresses past the
    end of the truth arrays are in no delivery. A truth count of 0 and a
    returned size of -1 both mean "not found"."""
    idx = np.asarray(idx)
    got = np.stack([np.asarray(size), np.asarray(files)], axis=1)
    ok = np.zeros(len(idx), dtype=bool)
    for total, count in (truth_a, truth_b):
        pool = len(count)
        known = idx < pool
        safe = np.where(known, idx, 0)
        present = known & (count[safe] > 0)
        want = np.where(present[:, None], np.stack([total[safe], count[safe]], axis=1), -1)
        ok |= (got == want).all(axis=1)
    return int((~ok).sum())


def quartile_spread(values):
    """Distance between the first and third quartile as a share of the
    median (statistics.quantiles, exclusive method)."""
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)
