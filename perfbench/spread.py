"""Run a workload once per seed and report how much each metric spreads.

    python3 perfbench/spread.py --workload lake_churn --seeds 1-10

Run it from the root of a checkout. For every metric it prints the
median over the seeds and the spread: the distance between the first
and third quartile (``statistics.quantiles(values, n=4)``) as a share
of the median, next to the metric's bound from BENCHMARK.json. It also
prints each run's wall time, which budgets a full measurement.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    args = p.parse_args()
    bench = json.loads(Path("BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs, walls = [], []
    for seed in _seeds(args.seeds):
        t0 = time.perf_counter()
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            capture_output=True, text=True,
        )
        walls.append(time.perf_counter() - t0)
        if out.returncode != 0:
            print(out.stderr[-3000:], file=sys.stderr)
            print(f"seed {seed}: exit {out.returncode}")
            return 1
        result = json.loads(out.stdout.strip().splitlines()[-1])
        runs.append(result)
        print(f"seed {seed}: {walls[-1]:.1f}s correct={result['correct']} "
              f"attempted={result['attempted']} failed={result['failed']}", flush=True)
    print(f"wall per run: median {statistics.median(walls):.1f}s, max {max(walls):.1f}s")
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        sp = spread(vals) if len(vals) >= 2 and med else 0.0
        bound = bounds[name]
        flag = "  OVER 1/3" if sp > bound / 3 else ""
        print(f"{name:36s} median {med:12.6g}  spread {sp:7.4f}  bound {bound}{flag}")
    return 0 if all(r["correct"] for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
