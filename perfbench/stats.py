"""The benchmark's own arithmetic, kept free of Spark so it can be tested on
synthetic records (see test_stats.py).

Everything here is deterministic: same records in, same numbers out.
"""

from __future__ import annotations

import statistics

import numpy as np

# Candidate tail percentiles, highest first. The tail a sample supports is
# the highest one with at least TAIL_MIN_BEYOND samples beyond it.
TAIL_CANDIDATES = (99.99, 99.9, 99.0, 90.0, 50.0)
TAIL_MIN_BEYOND = 10


def _rank(n: int, p: float) -> int:
    """1-based nearest rank of percentile p among n samples, in integers
    (hundredths of a percent) so 99.9 % of 10 000 is exactly 9990."""
    return max(1, -(-round(p * 100) * n // 10_000))


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p % of the
    samples at or below it."""
    arr = np.sort(np.asarray(values, dtype=np.float64))
    if arr.size == 0:
        raise ValueError("percentile of an empty sample")
    return float(arr[_rank(arr.size, p) - 1])


def supported_tail(n: int) -> float | None:
    """Highest candidate percentile with >= TAIL_MIN_BEYOND samples beyond
    its rank, or None when even the median is not supported."""
    for p in TAIL_CANDIDATES:
        if n - _rank(n, p) >= TAIL_MIN_BEYOND:
            return p
    return None


def rate_row_created_ms(v: np.ndarray, creation_ms: int, rate: int) -> np.ndarray:
    """Scheduled creation time of rate-source row ``v``: the source start plus
    v / rate seconds, rounded half up to the millisecond as the rate source
    stamps it. Exact in integers."""
    v = np.asarray(v, dtype=np.int64)
    return creation_ms + (v * 1000 + rate // 2) // rate


def latency_samples_ms(batches, creation_ms: int, rate: int) -> np.ndarray:
    """Per-event latency from the rate source's offsets.

    ``batches``: (start_offset_s, end_offset_s, commit_ms) per committed
    micro-batch. A batch holds rate rows v in [start*rate, end*rate); each
    row's latency is the batch's commit time minus the row's creation time.
    Nothing is carried through the topology: the offsets alone fix v.
    """
    parts = []
    for start_s, end_s, commit_ms in batches:
        v = np.arange(int(start_s) * rate, int(end_s) * rate, dtype=np.int64)
        parts.append(commit_ms - rate_row_created_ms(v, creation_ms, rate))
    if not parts:
        return np.empty(0, dtype=np.int64)
    return np.concatenate(parts)


def backlog_s(end_offset_s: float, commit_ms: float, creation_ms: int) -> float:
    """How far the committed input lags the wall clock at commit: elapsed
    source time minus the committed end offset."""
    return (commit_ms - creation_ms) / 1000.0 - end_offset_s


def backlog_grows(backlogs, tolerance_s: float = 1.0) -> bool:
    """True when the backlog in the last third of the batches exceeds the
    backlog in the first third by more than ``tolerance_s`` (medians, so one
    slow batch does not count as growth). Fewer than three batches in a
    phase that should have many is itself a stall."""
    b = list(backlogs)
    if len(b) < 3:
        return True
    third = len(b) // 3
    return statistics.median(b[-third:]) - statistics.median(b[:third]) > tolerance_s


def self_times_ms(spans) -> dict[str, float]:
    """Self time per span name: the span's duration minus the part of its
    interval covered by its children (overlapping children count once).

    ``spans``: dicts with id, parent, name, start, end (seconds).
    """
    children: dict[object, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered = 0.0
        cur_lo = cur_hi = None
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, lo), min(b, hi)
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
        out[s["name"]] = out.get(s["name"], 0.0) + (hi - lo - covered) * 1000.0
    return out


def quartile_spread(values) -> float:
    """(Q3 - Q1) / median, with quartiles as statistics.quantiles gives them."""
    q1, med, q3 = statistics.quantiles(list(values), n=4)
    return (q3 - q1) / med
