"""Run one workload over several seeds and print each metric's median and
quartile spread ((q3 - q1) / median, from ``statistics.quantiles(n=4)``).

    python3 perfbench/spread.py --workload pipeline_dense_rowgrain --seeds 1-10 --seconds 20

Runs are sequential, each in its own process, from the repository root.
Exits non-zero if any run failed or printed no result.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def _seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="'1-10' or '3,5,8'")
    ap.add_argument("--seconds", required=True)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    args = ap.parse_args()
    run_py = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
    values: dict[str, list[float]] = {}
    ok = True
    for seed in _seeds(args.seeds):
        proc = subprocess.run(
            [sys.executable, run_py, "--workload", args.workload, "--seed", str(seed),
             "--seconds", args.seconds, "--trace", args.trace],
            capture_output=True, text=True)
        lines = proc.stdout.strip().splitlines()
        try:
            result = json.loads(lines[-1])
        except (IndexError, ValueError):
            print(f"seed {seed}: exit {proc.returncode}, no result\n{proc.stderr[-2000:]}")
            ok = False
            continue
        ok &= proc.returncode == 0
        print(f"seed {seed}: exit {proc.returncode} correct={result['correct']} "
              f"attempted={result['attempted']} failed={result['failed']}", flush=True)
        for line in lines[:-1]:
            if "host probe" in line or line.startswith("metric "):
                print("   " + line)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for name, vals in values.items():
        if len(vals) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{name:40s} n={len(vals):2d} median={med:.6g} spread={spread:.4f}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
