#!/usr/bin/env python3
"""Compares two sets of benchmark results against the bounds in BENCHMARK.json.

    python3 perfbench/compare.py BASE.jsonl CHANGE.jsonl [--layers]

Each file holds the lines that `perfbench/run.py --record FILE` appends, one per
run. For every workload and end-to-end metric it prints both medians, each
side's spread (interquartile range over median) and the change, oriented so
that a positive change is worse. The verdict is:

  regression  the change's median is worse than the base's by more than the bound
  better      the change wins by more than the base's own spread
  same        otherwise
  unresolved  either side spreads wider than the bound, unless every run of the
              change beats every run of the base (then: better)
  failed      a run on either side failed an output check

It also checks that the output counts agree between all runs of the same
workload and seed: traced and untraced, base and change. A seed whose counts
differ is listed.

--layers also lists the per-layer medians of the traced runs (no bounds).
The exit code is 1 when any metric is a regression or failed, or any counts
differ.
"""
import argparse
import json
import os
import statistics
import sys


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else float("inf")


def verdict(base, change, better, bound, failed):
    if failed:
        return "failed", 0.0
    mb, mc = statistics.median(base), statistics.median(change)
    sign = 1 if better == "lower" else -1
    worse = sign * (mc - mb) / mb if mb else 0.0
    wins = all(sign * (c - b) < 0 for c in change for b in base)
    if spread(base) > bound or spread(change) > bound:
        return ("better" if wins else "unresolved"), worse
    if worse > bound:
        return "regression", worse
    if -worse > spread(base):
        return "better", worse
    return "same", worse


def count_mismatches(base, change):
    """(workload, seed) -> {counts: sides} for the seeds whose runs disagree."""
    seen = {}
    for side, runs in (("base", base), ("change", change)):
        for r in runs:
            if r.get("counts") is not None:
                key = (r["workload"], r["seed"])
                seen.setdefault(key, {}).setdefault(tuple(r["counts"]), set()).add(side)
    return {k: v for k, v in seen.items() if len(v) > 1}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--layers", action="store_true")
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    base, change = load(a.base), load(a.change)
    bad = False
    print(f"{'workload':12} {'metric':14} {'base':>12} {'spread':>7} {'change':>12} {'spread':>7} "
          f"{'worse':>7} {'bound':>6}  verdict")
    for w in [w["name"] for w in spec["workloads"]]:
        rb = [r for r in base if r["workload"] == w and r["trace"] == 0]
        rc = [r for r in change if r["workload"] == w and r["trace"] == 0]
        if not rb or not rc:
            print(f"{w:12} (no runs on {'base' if not rb else 'change'} side)")
            continue
        failed = any(not r["correct"] or r["failed"] for r in rb + rc)
        for m in spec["end_to_end"]:
            vb = [r["metrics"][m["name"]]["value"] for r in rb]
            vc = [r["metrics"][m["name"]]["value"] for r in rc]
            v, worse = verdict(vb, vc, m["better"], m["bound"], failed)
            bad |= v in ("regression", "failed")
            print(f"{w:12} {m['name']:14} {statistics.median(vb):12.4f} {spread(vb):7.3f} "
                  f"{statistics.median(vc):12.4f} {spread(vc):7.3f} {worse:+7.3f} {m['bound']:6.2f}  "
                  f"{v} (n={len(vb)}/{len(vc)})")
    for (w, seed), by_counts in sorted(count_mismatches(base, change).items()):
        bad = True
        print(f"{w:12} seed {seed}: output counts differ: " +
              "; ".join(f"{list(c)} ({'/'.join(sorted(s))})" for c, s in by_counts.items()))
    if a.layers:
        for w in [w["name"] for w in spec["workloads"]]:
            rb = [r for r in base if r["workload"] == w and r["trace"] == 1]
            rc = [r for r in change if r["workload"] == w and r["trace"] == 1]
            if not rb or not rc:
                continue
            print(f"\n{w}: per-layer medians (traced runs {len(rb)}/{len(rc)})")
            for m in spec["per_layer"]:
                mb = statistics.median(r["metrics"][m["name"]]["value"] for r in rb)
                mc = statistics.median(r["metrics"][m["name"]]["value"] for r in rc)
                if mb or mc:
                    ratio = f"{mc / mb:6.3f}x" if mb else "    new"
                    print(f"  {m['name']:34} {mb:14.3f} {mc:14.3f} {ratio} {m['unit']}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
