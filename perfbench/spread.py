"""Steadiness check: run the benchmark over several seeds per workload and
report, per end-to-end metric, the median and the quartile spread
((Q3 - Q1) / median, from ``statistics.quantiles(values, n=4)``) against
the metric's bound in ``BENCHMARK.json``.

    python3 perfbench/spread.py --seeds 10 [--workloads query_mix,...] [--first-seed 100]

Runs one process at a time, from the checkout root. Prints one line per
run and a table per workload; exits 1 if any spread exceeds its metric's
bound or any run failed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with the quartiles of
    ``statistics.quantiles(values, n=4)``."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def run_once(workload: str, seed: int, seconds: int, trace: int = 0) -> tuple[dict, float]:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1]), wall


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=100)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    ok = True
    for workload in args.workloads.split(","):
        values: dict[str, list[float]] = {m: [] for m in bounds}
        walls = []
        for seed in range(args.first_seed, args.first_seed + args.seeds):
            result, wall = run_once(workload, seed, spec["run_seconds"])
            walls.append(wall)
            ok &= result["correct"] and result["failed"] == 0
            for m in bounds:
                values[m].append(result["metrics"][m]["value"])
            print(workload, seed, f"wall={wall:.1f}s", result["failed"],
                  {m: round(v[-1], 4) for m, v in values.items()}, flush=True)
        print(f"\n{workload}: median run wall {statistics.median(walls):.1f} s")
        for m, vals in values.items():
            spread = quartile_spread(vals)
            flag = "" if spread <= bounds[m] else "  OVER BOUND"
            ok &= bool(flag == "")
            unit = result["metrics"][m]["unit"]
            print(f"  {m:12s} median {statistics.median(vals):.4f} {unit}  spread {spread:.4f}"
                  f"  bound {bounds[m]}  (bound/3 {bounds[m] / 3:.4f}){flag}")
        print(flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
