"""Run workloads once per seed and report each metric's spread.

    python3 perfbench/spread.py --seeds 1-10
    python3 perfbench/spread.py --workloads text_leaves --seeds 3 --trace 1

Prints every run's metric lines, then per workload each metric's median
and spread: the inter-quartile distance as a share of the median, the
measure BENCHMARK.json's bounds are set against. Runs are sequential.
Exits 1 if any run fails a check.
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
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.stats import spread  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", default=",".join(WORKLOADS))
    ap.add_argument("--seeds", default="1-10")
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        run_seconds = str(json.load(fh)["run_seconds"])
    ap.add_argument("--seconds", default=run_seconds)
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()

    ok = True
    for workload in args.workloads.split(","):
        values: dict[str, list[float]] = {}
        for seed in seeds(args.seeds):
            t0 = time.time()
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload",
                 workload, "--seed", str(seed), "--seconds", args.seconds,
                 "--trace", args.trace],
                capture_output=True, text=True, timeout=900)
            lines = proc.stdout.strip().splitlines()
            try:
                res = json.loads(lines[-1])
            except (IndexError, ValueError):
                print(f"{workload} seed {seed}: exit {proc.returncode}, no "
                      f"result\n{proc.stdout[-2000:]}{proc.stderr[-2000:]}")
                return 1
            ok = ok and res["correct"] and proc.returncode == 0
            print("\n".join(lines[:-1]))
            print(f"{workload} seed {seed}: {time.time() - t0:.1f} s, exit "
                  f"{proc.returncode}, correct={res['correct']}, attempted="
                  f"{res['attempted']}, failed={res['failed']}", flush=True)
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        if len(seeds(args.seeds)) >= 2:
            print(f"{workload}: median and spread over seeds {args.seeds}")
            for k, v in values.items():
                med = statistics.median(v)
                sp = spread(v) if med else float("nan")
                print(f"  {k:44s} median {med:12.6g}  spread {sp:7.4f}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
