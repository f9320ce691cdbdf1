#!/usr/bin/env python3
"""Shares of a JFR recording's execution samples, by method.

Usage:
    python3 tools/jfr_shares.py REC.jfr [--top N] [--method NAME ...]

Reads the recording's `jdk.ExecutionSample` events (`jfr print --json`) and
prints, for the N methods that most often sit on top of a sampled stack,
their self share (top frame) and total share (anywhere on the stack), then
the same two shares for each `--method` asked for. A method is named
`Class.method` with the package left out (`NerFeaturesFast$.idsAt`); a NAME
matches that method, or every method of that name (`idsAt`). A method that
JIT inlined into its caller still has its own frame in JFR's stack traces.
"""
import argparse
import collections
import json
import subprocess
import sys


def frames_of(rec):
    out = subprocess.run(["jfr", "print", "--json", "--events", "jdk.ExecutionSample", rec],
                         stdout=subprocess.PIPE, check=True, text=True).stdout
    for ev in json.loads(out)["recording"]["events"]:
        stack = ev["values"].get("stackTrace") or {}
        names = []
        for fr in stack.get("frames") or []:
            m = fr["method"]
            cls = m["type"]["name"].replace(".", "/").rsplit("/", 1)[-1]
            # scalac names a private method reached from a closure pkg$Cls$$name
            names.append(f"{cls}.{m['name'].rsplit('$$', 1)[-1]}")
        if names:
            yield names


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("recording")
    ap.add_argument("--top", type=int, default=15)
    ap.add_argument("--method", action="append", default=[])
    args = ap.parse_args()
    stacks = list(frames_of(args.recording))
    n = len(stacks)
    if n == 0:
        sys.exit("no execution samples in the recording")
    self_count = collections.Counter(s[0] for s in stacks)
    total_count = collections.Counter(m for s in stacks for m in set(s))
    print(f"{n} samples")
    print(f"{'self%':>7} {'total%':>7}  method")
    for m, c in self_count.most_common(args.top):
        print(f"{100 * c / n:7.1f} {100 * total_count[m] / n:7.1f}  {m}")
    if args.method:
        print()
    for want in args.method:
        hits = [m for m in total_count if m == want or m.endswith("." + want)]
        self_share = sum(self_count[m] for m in hits) / n
        # a sample counts once even when several matching methods are on its stack
        total_share = sum(1 for s in stacks if any(f in hits for f in s)) / n
        print(f"{100 * self_share:7.1f} {100 * total_share:7.1f}  {want}  ({', '.join(sorted(hits)) or 'no match'})")


if __name__ == "__main__":
    main()
