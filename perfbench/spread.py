#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload query_suite --seeds 1-10 --seconds 10 [--trace 0]

Runs perfbench/run.py once per seed, sequentially, and prints for each
metric its median and the distance between its first and third quartile
as a share of the median (statistics.quantiles, n=4), plus the wall time
of each run. With --out, appends every run's result object to a JSON
lines file.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.stats import median, spread  # noqa: E402


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10")
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()

    values: dict[str, list[float]] = {}
    walls = []
    for seed in seeds(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True, check=False,
        )
        walls.append(time.perf_counter() - t0)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        if args.out:
            with open(args.out, "a", encoding="utf-8") as f:
                f.write(json.dumps({"workload": args.workload, "seed": seed, "wall_s": walls[-1], **result}) + "\n")
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: {walls[-1]:.1f} s wall", flush=True)

    print(f"{'metric':40s} {'median':>12s} {'spread':>8s}")
    for name, vals in values.items():
        s = spread(vals) if len(vals) >= 2 and median(vals) else float("nan")
        print(f"{name:40s} {median(vals):12.4g} {s:8.3f}")
    print(f"{'wall_s':40s} {median(walls):12.4g} {spread(walls) if len(walls) >= 2 else 0:8.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
