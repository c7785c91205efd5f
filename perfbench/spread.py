#!/usr/bin/env python3
"""Steadiness check: run workloads over several seeds and report, per
end-to-end metric, the median and the interquartile spread as a share of
the median, next to the metric's bound in BENCHMARK.json.

    python3 perfbench/spread.py [--runs 10] [--seed0 1] [workload ...]

Run from the root of a checkout. A spread above a third of the bound is
flagged; setup_s has no spread bound, only a median-drift bound.
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


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("workloads", nargs="*")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = a.workloads or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for w in names:
        values = {m: [] for m in bounds}
        walls = []
        for i in range(a.runs):
            t0 = time.time()
            out = subprocess.run(
                bench["command"] + ["--workload", w, "--seed", str(a.seed0 + i),
                                    "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True)
            walls.append(time.time() - t0)
            if out.returncode != 0:
                sys.exit(f"{w} seed {a.seed0 + i} failed:\n{out.stderr[-3000:]}")
            res = json.loads(out.stdout.strip().splitlines()[-1])
            if not res["correct"]:
                print(f"{w} seed {a.seed0 + i}: correct=false, failed={res['failed']}")
            for m in bounds:
                values[m].append(res["metrics"][m]["value"])
        print(f"{w}: {a.runs} runs, wall median {statistics.median(walls):.1f} s, "
              f"max {max(walls):.1f} s")
        for m, vs in values.items():
            med = statistics.median(vs)
            q = statistics.quantiles(vs, n=4)
            spread = (q[2] - q[0]) / med if med else float("inf")
            flag = "" if m == "setup_s" or spread < bounds[m] / 3 else "  <-- above bound/3"
            print(f"  {m:<14} median {med:12.5g}  spread {spread:7.3f}  bound {bounds[m]}{flag}")
        sys.stdout.flush()


if __name__ == "__main__":
    main()
