"""Small measurement helpers: percentiles under the sample-count rule,
host weather and process memory. Standard library only."""

from __future__ import annotations

import math
import os
from pathlib import Path

# A percentile is reported only with at least this many samples beyond it.
MIN_BEYOND = 10


def min_samples(q: float) -> int:
    """Fewest samples that leave MIN_BEYOND samples above quantile ``q``."""
    return math.ceil(MIN_BEYOND / (1.0 - q) - 1e-9)


def percentile(values: list[float], q: float) -> float | None:
    """Nearest-rank ``q`` quantile, or None when the sample is too small for
    MIN_BEYOND samples beyond it."""
    if len(values) < min_samples(q):
        return None
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def median(values: list[float]) -> float:
    s = sorted(values)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def cpu_ticks() -> tuple[int, int] | None:
    """(steal, total) jiffies from /proc/stat, or None off Linux."""
    try:
        vals = [int(x) for x in
                Path("/proc/stat").read_text().splitlines()[0].split()[1:]]
    except (OSError, ValueError, IndexError):
        return None
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def steal_pct(t0: tuple[int, int] | None,
              t1: tuple[int, int] | None) -> float | None:
    if t0 is None or t1 is None or t1[1] <= t0[1]:
        return None
    return 100.0 * (t1[0] - t0[0]) / (t1[1] - t0[1])


def load_avg() -> float | None:
    try:
        return os.getloadavg()[0]
    except OSError:
        return None


def peak_rss_mb(pid: int) -> float | None:
    """VmHWM (peak resident set) of a live process, in MB."""
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    except (OSError, ValueError, IndexError):
        return None
    return None
