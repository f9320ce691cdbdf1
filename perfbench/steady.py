#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics. Run from the root of a checkout:

    python3 perfbench/steady.py --workload tag --seeds 1-10 [--seconds 15]

Runs the benchmark once per seed, then prints for each end-to-end metric the
median, the quartiles and the interquartile distance as a share of the median
next to the metric's bound from BENCHMARK.json.
"""
import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="first-last")
    ap.add_argument("--seconds", type=float)
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    seconds = a.seconds or spec["run_seconds"]
    lo, hi = (int(x) for x in a.seeds.split("-"))
    run = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
    values = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in range(lo, hi + 1):
        p = subprocess.run([sys.executable, run, "--workload", a.workload, "--seed", str(seed),
                            "--seconds", str(seconds), "--trace", "0"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        lines = p.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if lines else {}
        print(f"seed {seed}: exit {p.returncode} {json.dumps(res)}", flush=True)
        for k, v in res.get("metrics", {}).items():
            values[k].append(v["value"])
    for m in spec["end_to_end"]:
        xs = values[m["name"]]
        if len(xs) < 2:
            print(f"{m['name']}: {len(xs)} values")
            continue
        q1, q2, q3 = stats.quartiles(xs)
        print(f"{m['name']:12s} n={len(xs)} median={stats.median(xs):.4f} q1={q1:.4f} q3={q3:.4f} "
              f"spread={stats.spread(xs):.4f} bound={m['bound']}")


if __name__ == "__main__":
    main()
