"""Fraud-pipeline benchmark: one workload per process, on local[nproc].

    python3 perfbench/run.py --workload alerts_stream --seed 1 --seconds 18 --trace 0

Prints every metric as ``name value unit`` with the correctness verdict,
then, as the last line, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with --trace 0, the
per-layer metrics with --trace 1. See perfbench/README.md.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

import common  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("alerts_stream", "window_stream")
# Runnable, not in BENCHMARK.json: see README.md for why.
REFERENCE_WORKLOADS = ("dashboard_batch",)

END_TO_END = {
    "latency_p50_ms": "ms",
    "latency_p99_ms": "ms",
    "capacity_rps": "rows/s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}
# dashboard_batch, a reference workload outside the gated set, adds the
# median time of one full refresh.
REFRESH = {"refresh_s": "s"}

_SELF_LAYERS = ("session", "generator", "detect", "topology", "windows", "engine", "sink",
                "analytics", "exec", "check", "probe")
_QUERIES = ("q1_top10_scammers", "q2_global_stats", "q3_latest_alerts", "q4_windowed_amounts",
            "q5_range_mean", "q6_wire_roundtrip", "q7_fraud_points", "q8_alert_periods")

# name -> unit; every traced run prints all of them, 0 where a layer does
# not take part in the workload. dashboard_batch adds DASHBOARD_LAYERS.
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "source.rows": "count",
    "source.backlog_s": "s",
    "source.latest_offset_ms": "ms",
    "source.get_batch_ms": "ms",
    "gen.busy_ms": "ms",
    "parse.busy_ms": "ms",
    "branch.busy_ms": "ms",
    "parse.rows_in": "count",
    "parse.rows_malformed": "count",
    "parse.malformed_ratio": "ratio",
    "branch.fraud_rows": "count",
    "branch.fraud_ratio": "ratio",
    "batch.count": "count",
    "batch.no_data_count": "count",
    "batch.trigger_ms": "ms",
    "batch.planning_ms": "ms",
    "batch.wal_commit_ms": "ms",
    "batch.commit_offsets_ms": "ms",
    "sink.add_batch_ms": "ms",
    "sink.rows": "count",
    "sink.bytes": "B",
    "sink.files": "count",
    "state.rows_total": "count",
    "state.rows_updated": "count",
    "state.memory_bytes": "B",
    "state.commit_ms": "ms",
    "state.rows_dropped_by_watermark": "count",
    "exchange.shuffle_write_bytes": "B",
    "exchange.spill_bytes": "B",
    "exchange.partition_skew": "ratio",
    "executor.cpu_s": "s",
    **{f"self_ms.{layer}": "ms" for layer in _SELF_LAYERS},
    **{f"traced.{k}": u for k, u in END_TO_END.items()},
}
DASHBOARD_LAYERS = {
    "scan.input_bytes": "B",
    **{f"query.{q}.{m}": u for q in _QUERIES for m, u in
       (("plan_ms", "ms"), ("exec_s", "s"), ("cpu_s", "s"))},
}


def _finite(x: float) -> float:
    return float(x) if math.isfinite(x) else 0.0


def shutdown(spark) -> None:
    """Stop Spark, then end the JVM and any worker left, and wait for each."""
    others = [p for p in common.process_tree() if p != os.getpid()]
    spark.stop()
    for pid in others:
        try:
            os.kill(pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
    deadline = time.time() + 30
    for pid in others:
        while time.time() < deadline:
            try:
                if os.waitpid(pid, os.WNOHANG)[0] == pid:
                    break
            except ChildProcessError:  # not our child: gone once /proc says so
                if not os.path.exists(f"/proc/{pid}"):
                    break
            time.sleep(0.05)
        else:
            os.kill(pid, signal.SIGKILL)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + REFERENCE_WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)),
                    help="local[N] (default: the CPUs this process may use)")
    args = ap.parse_args(argv)

    sys.path.insert(0, str(common.ROOT))
    work = common.Workdir(args.workload)
    tracer = common.Tracer(bool(args.trace))
    spark = None
    try:
        with tracer.span("session.start"):
            spark = common.start_session(args.cores, work, bool(args.trace))
        start_s = time.time() - PROCESS_START
        if args.workload == "dashboard_batch":
            import dashboard as workload
        else:
            import streams as workload
        rest = common.SparkRest(spark) if args.trace else None
        res = workload.run(spark, work, tracer, args.workload, args.seed, args.seconds, rest)
        e2e = res["e2e"]
        e2e["setup_s"] += start_s  # session start, then the median warm-up round
        if args.trace:
            import probes

            declared = {**PER_LAYER, **DASHBOARD_LAYERS} if args.workload == "dashboard_batch" else PER_LAYER
            layers = {k: 0.0 for k in declared}
            layers.update(res["layers"])
            layers.update(probes.run(spark, work, tracer, args.seed))
            layers["session.start_s"] = start_s
            by_layer: dict[str, float] = {}
            for name, ms in stats.self_times_ms(tracer.spans).items():
                key = f"self_ms.{name.split('.')[0]}"
                by_layer[key] = by_layer.get(key, 0.0) + ms
            layers.update({k: v for k, v in by_layer.items() if k in declared})
            layers.update({f"traced.{k}": e2e[k] for k in END_TO_END})
            unknown = set(layers) - set(declared)
            if unknown:
                raise RuntimeError(f"per-layer metrics not declared: {sorted(unknown)}")
            out, units = layers, declared
        else:
            out, units = e2e, {**END_TO_END, **REFRESH} if "refresh_s" in e2e else END_TO_END
    finally:
        if spark is not None:
            shutdown(spark)
        work.close()
    if args.trace:
        trace_path = common.ROOT / ".perfbench_out" / f"{args.workload}-seed{args.seed}-{tracer.run_id}.jsonl"
        tracer.write(trace_path)
        print(f"spans: {trace_path}")

    checks_ok = all(c["ok"] for c in res["info"]["checks"].values())
    print(f"workload {args.workload} seed {args.seed} cores {args.cores} trace {args.trace}")
    print(json.dumps(res["info"], default=str))
    for k in units:
        print(f"{k} {out[k]:.6g} {units[k]}")
    attempted, failed = res["attempted"], res["failed"]
    print(f"failed_frac {failed / attempted:.6g} ratio ({failed}/{attempted})")
    print(f"correct {checks_ok}")
    print(json.dumps({
        "correct": checks_ok,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": _finite(out[k]), "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
