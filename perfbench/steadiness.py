#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each end-to-end metric's
median, quartiles and spread (interquartile range over median).

    python3 perfbench/steadiness.py --seeds 1-10

Runs are sequential, each in its own process, exactly as a single
``run.py`` invocation, and alternate between the workloads seed by seed
so that each workload's runs see the same spread of host conditions,
each for BENCHMARK.json's ``run_seconds``. Prints one
line per run and a table per workload at the end. Each run's full record
is kept in ``perfbench/.work/results/<run>.json``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def parse_seeds(spec: str) -> list[int]:
    seeds: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median), quartiles as
    ``statistics.quantiles(values, n=4)`` gives them."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]),
                   help="comma-separated; default every workload in BENCHMARK.json")
    p.add_argument("--seeds", default="1-10", help="e.g. 1-10 or 3,5,7")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    workloads = args.workloads.split(",")
    runs: dict[str, list[dict]] = {w: [] for w in workloads}
    for seed in parse_seeds(args.seeds):
        for workload in workloads:
            t0 = time.perf_counter()
            proc = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
                 "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)],
                cwd=ROOT, capture_output=True, text=True,
            )
            wall = time.perf_counter() - t0
            if proc.returncode != 0:
                print(proc.stderr[-3000:], file=sys.stderr)
                print(f"{workload} seed {seed}: exit {proc.returncode}", file=sys.stderr)
                return 1
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            runs[workload].append({"wall_s": wall, **result})
            vals = {k: round(v["value"], 3) for k, v in result["metrics"].items()}
            print(f"{workload} seed {seed:3d} wall {wall:6.1f}s correct={result['correct']} "
                  f"failed={result['failed']}/{result['attempted']} {vals}", flush=True)

    for workload, rs in runs.items():
        print(f"\n{workload}: {len(rs)} runs, mean wall {statistics.mean(r['wall_s'] for r in rs):.1f}s")
        print(f"{'metric':32s} {'median':>10s} {'q1':>10s} {'q3':>10s} {'spread':>8s}")
        for name in rs[0]["metrics"]:
            med, q1, q3, sp = spread([r["metrics"][name]["value"] for r in rs])
            print(f"{name:32s} {med:10.3f} {q1:10.3f} {q3:10.3f} {sp:8.3f}")
    return 0

if __name__ == "__main__":
    sys.exit(main())
