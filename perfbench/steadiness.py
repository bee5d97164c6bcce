#!/usr/bin/env python3
"""Steadiness report: runs the benchmark repeatedly, one seed per run, and
prints for every end-to-end metric its median and quartiles across the runs
and the quartile spread as a share of the median, next to the metric's bound
from BENCHMARK.json. Run from the root of a checkout:

    python3 perfbench/steadiness.py --workloads curation cdc_stream --seeds 1-10

A bound is set from these spreads: the benchmark aims for every spread
(set-up time aside) to stay under a third of its bound.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_of(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values):
    """(median, q1, q3, (q3 - q1) / median) with the quartiles of
    `statistics.quantiles(values, n=4)`."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", nargs="+")
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--out", help="write every run's result here as JSON")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]
    runs = {}
    for w in workloads:
        for seed in seeds_of(args.seeds):
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                                "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"{w} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
                continue
            res = json.loads(lines[-1])
            res["wall_s"] = time.time() - t0
            runs.setdefault(w, []).append(res)
            print(f"{w} seed {seed}: {res['wall_s']:.0f} s, correct={res['correct']}, "
                  f"failed {res['failed']}/{res['attempted']}", file=sys.stderr)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(runs, f, indent=1)
    print(f"{'workload':<12} {'metric':<18} {'median':>12} {'q1':>12} {'q3':>12} "
          f"{'spread':>7} {'bound':>6}")
    for w, rs in runs.items():
        if len(rs) < 2:
            continue
        for name in rs[0]["metrics"]:
            med, q1, q3, s = spread([r["metrics"][name]["value"] for r in rs])
            b = bounds.get(name, float("nan"))
            flag = "" if s <= b / 3 else (" over 1/3 bound" if s <= b else " OVER BOUND")
            print(f"{w:<12} {name:<18} {med:>12.4g} {q1:>12.4g} {q3:>12.4g} "
                  f"{s:>7.3f} {b:>6.2f}{flag}")
        walls = [r["wall_s"] for r in rs]
        print(f"{w:<12} {'(run wall s)':<18} {statistics.median(walls):>12.1f} "
              f"max {max(walls):.1f}")


if __name__ == "__main__":
    main()
