"""Run the benchmark over several seeds and summarise it per workload.

    python3 perfbench/report.py --seeds 1,2,3 [--workloads web_filter,rule_checks] [--trace 1]

Each run is a separate ``run.py`` process, one after another, with
``run_seconds`` from BENCHMARK.json. For every metric it prints the
median, the quartiles and the quartile spread as a share of the median
next to the metric's bound, plus the failed fraction of all operations.
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


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seeds", required=True, help="comma-separated seeds")
    p.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    p.add_argument("--seconds", type=float, default=bench["run_seconds"])
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    for workload in args.workloads.split(","):
        values, attempted, failed, walls = {}, 0, 0, []
        for seed in args.seeds.split(","):
            t0 = time.perf_counter()
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                 "--seed", seed, "--seconds", str(args.seconds), "--trace", str(args.trace)],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
            )
            walls.append(time.perf_counter() - t0)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"{workload} seed={seed}: exit {proc.returncode}")
                continue
            print(lines[-2] if len(lines) > 1 else "")
            result = json.loads(lines[-1])
            attempted += result["attempted"]
            failed += result["failed"]
            for name, m in result["metrics"].items():
                values.setdefault(name, (m["unit"], []))[1].append(m["value"])
        print(
            f"== {workload}: {len(walls)} runs, wall median {statistics.median(walls):.1f} s, "
            f"failed_frac={failed / max(attempted, 1):.3f} ({failed}/{attempted})"
        )
        for name, (unit, xs) in values.items():
            med = statistics.median(xs)
            if len(xs) >= 2:
                q1, _, q3 = statistics.quantiles(xs, n=4)
            else:
                q1 = q3 = med
            spread = (q3 - q1) / med if med else 0.0
            bound = bounds.get(name)
            note = f" bound {bound:.2f}" if bound is not None else ""
            print(
                f"  {name:34s} {med:12.4f} {unit:6s} q1 {q1:.4f} q3 {q3:.4f} "
                f"spread {spread:.3f}{note}"
            )
    return 0


if __name__ == "__main__":
    sys.exit(main())
