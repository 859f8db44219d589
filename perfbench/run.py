"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload streets_small --seed 1 \
        --seconds 10 --trace 0

Run from anywhere inside a checkout of the repository; the program is
imported from the checkout that holds this file, and every file the run
writes goes under `.perfbench_work/` there. Prints one line per metric
(name, value, unit, samples), then as the last line one JSON object:
{"correct", "attempted", "failed", "metrics"} with the end-to-end metrics
(--trace 0) or the per-layer metrics (--trace 1). Exits 1 when an output
check fails and 2 when the program is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


def _environment() -> None:
    """Keep every file Spark, the JVM and the program write inside WORK,
    and let Spark's Python workers import the program."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["OSM2STREETS_FIXTURE_ROOT"] = os.path.join(WORK, "fixtures")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
        "pyspark-shell")
    sys.path.insert(0, ROOT)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "osm2streets_spark",
                                       "__init__.py")):
        print(f"perfbench: no osm2streets_spark package in {ROOT}",
              file=sys.stderr)
        return 2
    _environment()
    from perfbench import metrics, stats
    from perfbench.procs import RssSampler, process_start_epoch
    from perfbench.workloads import WORKLOADS, Ctx, Result

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{', '.join(WORKLOADS)}", file=sys.stderr)
        return 2
    ctx = Ctx(root=ROOT, work=WORK, seed=args.seed, seconds=args.seconds,
              trace=bool(args.trace), cores=len(os.sched_getaffinity(0)),
              t_start=process_start_epoch())
    sampler = RssSampler(interval=0.2).start()
    res = Result()
    print(f"perfbench {args.workload} seed={args.seed} "
          f"seconds={args.seconds:g} trace={args.trace} cores={ctx.cores}",
          flush=True)
    WORKLOADS[args.workload](ctx, res)
    res.layers["peak_rss_mb"] = sampler.stop()

    out: dict[str, dict] = {}
    wanted = metrics.PER_LAYER if args.trace else metrics.END_TO_END
    for name, unit in wanted.items():
        if args.trace and name in res.layers:
            out[name] = {"value": res.layers[name], "unit": unit}
            print(f"  {name:44s} {res.layers[name]:14.6g} {unit}")
        elif not args.trace and res.samples.get(name):
            v = res.samples[name]
            out[name] = {"value": statistics.median(v), "unit": unit}
            print(f"  {name:12s} {unit:4s} {stats.describe(v)}")
    for p in res.problems:
        print(f"  CHECK FAILED: {p}")
    correct = (res.failed == 0 and not res.problems
               and set(out) == set(wanted))
    print(f"  run took {time.time() - ctx.t_start:.1f} s")
    print(json.dumps({"correct": correct, "attempted": res.attempted,
                      "failed": res.failed, "metrics": out}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
