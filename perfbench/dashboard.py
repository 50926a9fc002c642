"""dashboard_batch: one client refreshing the Grafana dashboard, q1-q8 of
plans/analytics, over a seeded 100 000-row ``events`` table (closed loop:
the next query is sent when the previous one has returned its rows)."""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from fraud_detetion_with__kafkastreams_and_grafana_spark import testing
from fraud_detetion_with__kafkastreams_and_grafana_spark.plans import analytics

import stats
from common import cpu_seconds, jvm_pid, peak_rss_mb, stage_totals

EVENTS_ROWS = 100_000
USERS = 1_500
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
MONTH_START_US = 1_704_067_200_000_000  # 2024-01-01 UTC
MONTH_US = 30 * 86_400 * 1_000_000
WARMUP_ROUNDS = 3


def write_events(path: str, seed: int, n: int = EVENTS_ROWS) -> None:
    """The shape of the driver's ``events`` table: time-ordered microsecond
    timestamps over one month, ~1500 users, five event types, exponential
    values (mean 50, two decimals, ~13 % above the 100.0 fraud threshold)
    and a small JSON ``props`` payload."""
    rng = np.random.default_rng(seed)
    ts = np.sort(MONTH_START_US + rng.integers(0, MONTH_US, n))
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, USERS, n, dtype=np.int64)),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )
    pq.write_table(table, path)


def refresh(spark, sf_dir: str, tracer, samples: dict) -> float:
    """One full dashboard refresh: build and run q1-q8 in order, fetching
    every row. Appends (plan_s, exec_s, cpu_s) per query to ``samples``."""
    t0 = time.time()
    for name, fn in analytics.QUERIES.items():
        c0 = cpu_seconds()
        p0 = time.time()
        with tracer.span(f"analytics.{name}"):
            df = fn(spark, sf_dir)
        p1 = time.time()
        with tracer.span(f"exec.{name}"):
            df.collect()
        p2 = time.time()
        samples.setdefault(name, []).append((p1 - p0, p2 - p0, cpu_seconds() - c0))
    return time.time() - t0


def run(spark, work, tracer, name: str, seed: int, seconds: float, rest=None) -> dict:
    sf_dir = work.sub("sf")
    os.makedirs(sf_dir)
    write_events(f"{sf_dir}/events.parquet", seed)

    warm = []
    with tracer.span("session.warmup"):
        for _ in range(WARMUP_ROUNDS):
            warm.append(refresh(spark, sf_dir, tracer, {}))

    stage0 = rest.max_stage_id() if rest else -1
    samples: dict[str, list] = {}
    rounds, cpu = [], []
    end = time.time() + seconds
    while not rounds or time.time() < end:
        c0 = cpu_seconds()
        rounds.append(refresh(spark, sf_dir, tracer, samples))
        cpu.append(cpu_seconds() - c0)

    rss = peak_rss_mb(jvm_pid())
    stages = rest.stages_after(stage0) if rest else []

    # Oracle check, outside the timed rounds.
    with tracer.span("check.oracle"):
        con = testing.duckdb_conn(sf_dir)
        checks = {
            q: testing.check_query(spark, con, q, fn, analytics.ORACLES[q], sf_dir)
            for q, fn in analytics.QUERIES.items()
        }
        con.close()

    per_query = [s[1] for qs in samples.values() for s in qs]
    refresh_s = statistics.median(rounds)
    failed = sum(not r.ok for r in checks.values())
    e2e = {
        "latency_p50_ms": stats.percentile(per_query, 50) * 1000.0,
        "latency_p99_ms": stats.percentile(per_query, 99) * 1000.0,
        "capacity_rps": EVENTS_ROWS * len(analytics.QUERIES) / refresh_s,
        "refresh_s": refresh_s,
        "cpu_s": statistics.median(cpu),
        "peak_rss_mb": rss,
        "setup_s": statistics.median(warm),
    }
    info = {
        "rounds": len(rounds),
        "latency_samples": len(per_query),
        "latency_tail": stats.supported_tail(len(per_query)),
        "checks": {q: {"ok": r.ok, "detail": r.detail} for q, r in checks.items()},
        "warmup_rounds_s": warm,
    }
    layers = {}
    if tracer.enabled:
        for q, s in samples.items():
            layers[f"query.{q}.plan_ms"] = statistics.median(x[0] for x in s) * 1000.0
            layers[f"query.{q}.exec_s"] = statistics.median(x[1] for x in s)
            layers[f"query.{q}.cpu_s"] = statistics.median(x[2] for x in s)
        tot = stage_totals(stages)
        skews = [k for k in (rest.skew(st) for st in stages if st.get("shuffleReadRecords", 0) > 0) if k]
        n = len(rounds)
        layers.update(
            {
                "scan.input_bytes": tot["inputBytes"] / n,
                "exchange.shuffle_write_bytes": tot["shuffleWriteBytes"] / n,
                "exchange.spill_bytes": (tot["memoryBytesSpilled"] + tot["diskBytesSpilled"]) / n,
                "exchange.partition_skew": statistics.median(skews) if skews else 0.0,
                "executor.cpu_s": tot["executorCpuTime"] / 1e9 / n,
                "session.warmup_s": sum(warm),
            }
        )
    return {
        "e2e": e2e,
        "layers": layers,
        "attempted": len(checks) + len(per_query),
        "failed": failed,
        "info": info,
    }
