"""Percentiles with a sample-count rule, and host-drift telemetry."""

from __future__ import annotations

import math
import os
import statistics
import time

MIN_BEYOND = 10


def percentile(samples, q: float) -> float:
    """Nearest-rank q-th percentile (0 < q <= 100)."""
    xs = sorted(samples)
    if not xs:
        raise ValueError("no samples")
    return xs[max(0, math.ceil(q / 100 * len(xs)) - 1)]


def supported_percentile(samples, q: float, min_beyond: int = MIN_BEYOND):
    """The q-th percentile, or None unless at least ``min_beyond`` samples
    lie strictly above it (a tail percentile read off fewer samples is
    noise)."""
    if not samples:
        return None
    v = percentile(samples, q)
    return v if sum(1 for x in samples if x > v) >= min_beyond else None


def highest_supported_percentile(samples, candidates=(99, 95, 90, 75)):
    """-> (q, value) for the highest candidate percentile the sample
    supports, or None."""
    for q in candidates:
        v = supported_percentile(samples, q)
        if v is not None:
            return q, v
    return None


def quartile_spread(values) -> float:
    """(Q3 - Q1) / median, the run-to-run spread of one metric."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def host_probe(n: int = 1_500_000) -> float:
    """Seconds for a fixed pure-Python integer loop: a CPU kernel that no
    program change can move, so a shift in it is host drift."""
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x = (x * 31 + i) & 0xFFFFFFFF
    return time.perf_counter() - t0


def steal_seconds() -> float:
    """Cumulative CPU time stolen by the hypervisor, summed over CPUs
    (the ``steal`` column of /proc/stat); 0.0 where unavailable."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
    except OSError:
        return 0.0
    if len(fields) < 9 or fields[0] != "cpu":
        return 0.0
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")
