#!/usr/bin/env python3
"""Self-test of the benchmark's answer checks. Run from the root of a checkout:

    python3 perfbench/selftest.py [--seconds 3]

Runs the benchmark three times with one answer corrupted before it is
checked:
  tag, untraced       drop_triple  one triple removed from each tagging pass
  kg_chain, untraced  edge_weight  one edge weight read back from the graph raised by 1
  tag, traced         q18_score    one q18_jaccard_pairs score nudged by 1e-9
and exits 0 only if each run reports correct=false with failed > 0.
"""
import argparse
import json
import os
import subprocess
import sys

CASES = [("tag", 0, "drop_triple"), ("kg_chain", 0, "edge_weight"), ("tag", 1, "q18_score")]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seconds", type=float, default=3)
    ap.add_argument("--seed", type=int, default=5)
    a = ap.parse_args()
    run = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
    caught = 0
    for workload, trace, fault in CASES:
        p = subprocess.run([sys.executable, run, "--workload", workload, "--seed", str(a.seed),
                            "--seconds", str(a.seconds), "--trace", str(trace), "--inject", fault],
                           stdout=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if lines else {}
        ok = p.returncode == 0 and res.get("correct") is False and res.get("failed", 0) > 0
        caught += ok
        print(f"{workload:9s} trace={trace} {fault:12s} {'caught' if ok else 'MISSED'}: "
              f"correct={res.get('correct')} failed={res.get('failed')}/{res.get('attempted')}")
    print(f"{caught}/{len(CASES)} corruptions caught")
    sys.exit(0 if caught == len(CASES) else 1)


if __name__ == "__main__":
    main()
