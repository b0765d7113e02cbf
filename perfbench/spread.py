#!/usr/bin/env python3
"""Run one workload over several seeds and report, per end-to-end metric,
the median and the spread: the distance between the first and third
quartile of the per-run values as a share of their median.

    python3 perfbench/spread.py --workload cot_ticks --seeds 1-10 [--seconds 10]

Runs are sequential, from the repository root; each run's result line is
appended to ``.perfbench_work/spread-<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    p.add_argument("--seconds", type=int,
                   default=json.load(open("BENCHMARK.json"))["run_seconds"])
    args = p.parse_args()
    log = os.path.join(".perfbench_work", f"spread-{args.workload}.jsonl")
    os.makedirs(".perfbench_work", exist_ok=True)
    values: dict[str, list[float]] = {}
    for seed in _seeds(args.seeds):
        t0 = time.time()
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"],
            capture_output=True, text=True)
        wall = time.time() - t0
        if out.returncode != 0:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}", file=sys.stderr)
            return 1
        res = json.loads(out.stdout.strip().splitlines()[-1])
        with open(log, "a") as f:
            f.write(json.dumps({"seed": seed, "wall_s": wall, **res}) + "\n")
        print(f"seed {seed}: wall {wall:.0f} s, correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']}", flush=True)
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    for k, v in values.items():
        med = statistics.median(v)
        q1, _, q3 = statistics.quantiles(v, n=4)
        print(f"{k:16s} median {med:12.3f}  spread {(q3 - q1) / med:6.3f}  "
              f"min {min(v):12.3f}  max {max(v):12.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
