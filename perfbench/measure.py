"""Statistics, result digests and process probes shared by the workloads."""

from __future__ import annotations

import hashlib
import json
import math
import re
import statistics

METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

# percentiles the report may name, highest last
_PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
TAIL_MIN_BEYOND = 10


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples
    (rounded first, so 99.9% of 10000 is rank 9990, not 9991)."""
    return math.ceil(round(p * n / 100.0, 9))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest value with at least p% of the
    samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    return xs[max(1, _rank(p, len(xs))) - 1]


def tail_percentile(n: int) -> float | None:
    """Highest reportable percentile for ``n`` samples: the nearest-rank
    percentile that leaves at least ``TAIL_MIN_BEYOND`` samples above it.
    None when even the median has fewer than that beyond it."""
    best = None
    for p in _PERCENTILES:
        if n - _rank(p, n) >= TAIL_MIN_BEYOND:
            best = p
    return best


def summarize(values: list[float]) -> dict:
    """Median, sample count and the highest supported tail percentile."""
    out = {"n": len(values),
           "median": statistics.median(values) if values else None}
    p = tail_percentile(len(values))
    if p is not None:
        out[f"p{p:g}"] = percentile(values, p)
    return out


def geomean(values: list[float]) -> float:
    if not values or min(values) <= 0:
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def result_digest(pdf) -> str:
    """Order-insensitive digest of a query result: its sorted column names
    and the canonical row multiset the oracle-parity tests compare."""
    from tests.conftest import canonical_rows

    payload = json.dumps([sorted(pdf.columns), canonical_rows(pdf)],
                         ensure_ascii=False, separators=(",", ":"))
    return hashlib.sha256(payload.encode()).hexdigest()


def peak_rss_mb(pids: list[int]) -> float:
    """Sum over ``pids`` of the peak resident set size (VmHWM), in MiB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
                    break
    return total_kb / 1024.0


def check_metric_names(names) -> None:
    for name in names:
        if not METRIC_NAME.fullmatch(name):
            raise ValueError(f"bad metric name {name!r}")
