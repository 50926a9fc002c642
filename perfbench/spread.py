"""Run one workload over several seeds and report, per metric, the median and
the quartile spread (Q3 - Q1) / median, as statistics.quantiles gives them.

    python3 perfbench/spread.py --workload alerts_stream --seeds 1-10 --seconds 18
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

import stats

HERE = Path(__file__).resolve().parent


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="first-last")
    ap.add_argument("--seconds", type=int, default=18)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--cores", type=int)
    args = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in
              json.loads((HERE.parent / "BENCHMARK.json").read_text())["end_to_end"]}
    lo, hi = (int(x) for x in args.seeds.split("-"))
    values: dict[str, list[float]] = {}
    for seed in range(lo, hi + 1):
        cmd = [sys.executable, str(HERE / "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        if args.cores:
            cmd += ["--cores", str(args.cores)]
        t0 = time.time()
        out = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
        wall = time.time() - t0
        last = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
        if out.returncode != 0 or not last.startswith("{"):
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
            return 1
        res = json.loads(last)
        print(f"seed {seed}: {wall:.0f} s correct={res['correct']} failed={res['failed']}/{res['attempted']} "
              + " ".join(f"{k}={v['value']:.6g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        spread = stats.quartile_spread(vs) if len(vs) >= 2 and statistics.median(vs) else float("nan")
        b = bounds.get(k)
        note = f" bound {b} (spread/bound {spread / b:.2f})" if b else ""
        print(f"{k}: median {statistics.median(vs):.6g} spread {spread:.4f}{note}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
