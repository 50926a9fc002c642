"""Self-tests of the benchmark's arithmetic on synthetic records.

    python3 -m pytest perfbench/test_stats.py -q
"""

from __future__ import annotations

import json
import statistics
from pathlib import Path

import numpy as np
import pytest

import stats


def test_latency_from_rate_offsets():
    # Rate 4 rows/s from t=1000 ms: rows 0-3 are created 250 ms apart and
    # all committed at 2000 ms.
    lat = stats.latency_samples_ms([(0, 1, 2000)], creation_ms=1000, rate=4)
    assert lat.tolist() == [1000, 750, 500, 250]
    # A second batch covering seconds 1-3 holds rows 4-11.
    lat = stats.latency_samples_ms([(0, 1, 2000), (1, 3, 4500)], 1000, 4)
    assert lat.size == 12
    assert lat[4] == 4500 - 2000 and lat[-1] == 4500 - (1000 + 2750)


def test_creation_time_rounds_half_up_like_the_rate_source():
    # 1000 / 3000 ms per row: row 1 at 0.33 ms -> 0, row 2 at 0.67 ms -> 1,
    # and with 2000 rows/s row 1 sits exactly on 0.5 ms -> 1.
    assert stats.rate_row_created_ms(np.array([0, 1, 2, 3]), 0, 3000).tolist() == [0, 0, 1, 1]
    assert stats.rate_row_created_ms(np.array([1, 3]), 0, 2000).tolist() == [1, 2]


def test_empty_batches_give_no_samples():
    assert stats.latency_samples_ms([(2, 2, 5000)], 0, 10).size == 0
    assert stats.latency_samples_ms([], 0, 10).size == 0


def test_nearest_rank_percentile():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 50) == 50
    assert stats.percentile(xs, 99) == 99
    assert stats.percentile(xs, 100) == 100
    assert stats.percentile([7], 99) == 7
    with pytest.raises(ValueError):
        stats.percentile([], 50)


@pytest.mark.parametrize(
    "n, tail",
    [(19, None), (20, 50.0), (99, 50.0), (100, 90.0), (999, 90.0), (1000, 99.0),
     (9999, 99.0), (10_000, 99.9), (100_000, 99.99)],
)
def test_highest_percentile_with_ten_samples_beyond(n, tail):
    assert stats.supported_tail(n) == tail


def test_backlog_growth():
    assert not stats.backlog_grows([0.4, 0.5, 0.45, 0.5, 0.42, 0.48])
    assert stats.backlog_grows([0.5, 1.0, 1.6, 2.1, 2.7, 3.2])
    # One slow batch in the last third is not growth.
    assert not stats.backlog_grows([0.4, 0.5, 0.45, 0.5, 0.42, 3.0, 0.5, 0.4, 0.45])
    # Too few batches for a phase that should have many is a stall.
    assert stats.backlog_grows([0.4, 0.5])


def test_backlog_is_elapsed_minus_committed_offset():
    # Source started at 1000 ms; a batch ending at offset 5 s committed at
    # 6400 ms lags 0.4 s.
    assert stats.backlog_s(5, 6400, 1000) == pytest.approx(0.4)


def test_span_self_time():
    def span(i, parent, name, start, end):
        return {"id": i, "parent": parent, "name": name, "start": start, "end": end}

    spans = [
        span(0, None, "root", 0.0, 10.0),
        span(1, 0, "a", 1.0, 3.0),
        span(2, 0, "b", 2.0, 5.0),  # overlaps a: 1-5 counts once
        span(3, 0, "c", 8.0, 12.0),  # sticks out of root: only 8-10 counts
        span(4, 2, "a", 2.5, 3.5),  # grandchild, same name as span 1
    ]
    self_ms = stats.self_times_ms(spans)
    assert self_ms["root"] == pytest.approx(4000.0)
    assert self_ms["b"] == pytest.approx(2000.0)
    assert self_ms["c"] == pytest.approx(4000.0)
    assert self_ms["a"] == pytest.approx(2000.0 + 1000.0)


def test_quartile_spread():
    xs = [10, 11, 9, 10, 12, 10, 8, 10, 11, 9]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    assert stats.quartile_spread(xs) == pytest.approx((q3 - q1) / med)


def test_benchmark_json_matches_what_run_prints():
    import run

    spec = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
