"""Helpers the benchmark uses to turn timings into metrics and to check
results: percentiles, run conditions read from ``/proc``, the Presto
wire rendering of values, and an order-insensitive row hash."""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import os
import statistics
from dataclasses import dataclass


def percentile(values: list[float], q: int) -> float:
    """The ``q``-th percentile (1..99) by ``statistics.quantiles`` with
    the inclusive method: a sample of one is its own percentile, and the
    result never lies outside the observed range."""
    if not values:
        raise ValueError("percentile of an empty sample")
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def beyond(values: list[float], threshold: float) -> int:
    """How many samples lie strictly above ``threshold``."""
    return sum(1 for v in values if v > threshold)


def leveled(prev: dict[str, list[float]], cur: dict[str, list[float]], tol: float) -> bool:
    """Whether throughput has leveled off between two warm-up chunks: the
    statement kinds both ran take, summed over their per-kind medians,
    within ``tol`` of the time they took before."""
    shared = prev.keys() & cur.keys()
    if not shared:
        return False
    before = sum(statistics.median(prev[k]) for k in shared)
    after = sum(statistics.median(cur[k]) for k in shared)
    return abs(after / before - 1.0) <= tol


def error_rate(attempted: int, failed: int) -> float:
    if attempted < 1:
        raise ValueError("no statements attempted")
    return failed / attempted


def rows_written_per_s(outcomes: list) -> float:
    """Rows committed by CTAS and INSERT per second of their statement
    time; 0 where the workload writes nothing."""
    written = [o for o in outcomes if o.stmt.kind in ("etl.ctas", "etl.insert") and o.rows]
    if not written:
        return 0.0
    return sum(o.rows[0][0] for o in written) / sum(o.latency_s for o in written)


# -- run conditions -------------------------------------------------------


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    # guest time is already counted in user time
    return steal, sum(fields[:8])


@dataclass
class RunConditions:
    """Load and CPU steal around a run, so a noisy run can be recognised."""

    loadavg_before: float
    steal_before: int
    total_before: int

    @classmethod
    def start(cls) -> "RunConditions":
        steal, total = _cpu_ticks()
        return cls(os.getloadavg()[0], steal, total)

    def finish(self) -> dict:
        steal, total = _cpu_ticks()
        d_total = max(1, total - self.total_before)
        return {
            "nproc": nproc(),
            "loadavg_before": self.loadavg_before,
            "loadavg_after": os.getloadavg()[0],
            "steal_ticks": steal - self.steal_before,
            "steal_pct": 100.0 * (steal - self.steal_before) / d_total,
        }


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of ``pids``, in MiB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
                    break
    return total_kb / 1024.0


# -- result checking ------------------------------------------------------


def wire(v):
    """A value as the Presto statement protocol carries it in JSON:
    timestamps as ``YYYY-MM-DD HH:MM:SS.mmm``, dates in ISO form and
    decimals as strings."""
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, dt.datetime):
        return v.isoformat(" ", "milliseconds")
    if isinstance(v, (dt.date, dt.time)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return [wire(x) for x in v]
    return str(v)


def row_hash(rows) -> tuple[int, int]:
    """(row count, multiset hash) of ``rows``: the sum modulo 2**64 of a
    64-bit digest of each row's ``repr``, so row order does not matter
    but duplicates, and an int read back as a float, do."""
    acc = 0
    n = 0
    for row in rows:
        digest = hashlib.blake2b(repr(row).encode(), digest_size=8).digest()
        acc += int.from_bytes(digest, "little")
        n += 1
    return n, acc % (1 << 64)
