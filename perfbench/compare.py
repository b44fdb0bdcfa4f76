#!/usr/bin/env python3
"""Compares two sets of benchmark runs, a base (the parent commit) and a
head (the change), metric by metric and workload by workload.

    python3 perfbench/compare.py <base-results-dir> <head-results-dir>

Each directory holds the run records run.py writes to
perfbench/work/results (copy them aside between the two commits). Runs
pair up by workload, seed and trace flag; run both sides with the same
seeds, alternating which side runs first.

For every metric x workload it prints the medians and quartiles of both
sides and a verdict:
  gain        at least 10 pairs, the head wins at least 9 in 10 of them
              (ties count for neither side), and the medians differ by
              more than the base's interquartile range;
  regression  the head's median is worse than the base's by more than
              the metric's bound in BENCHMARK.json;
  unresolved  a side's spread (IQR / median) exceeds the bound and not
              every head run beats every base run;
  same        none of the above.
Per-layer metrics have no bound, so they get only `gain` or `same`.
The exit code is 1 when any metric regressed.
"""
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(d):
    runs = {}
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        r = json.load(open(f))
        runs[(r["workload"], r["seed"], r["trace"])] = r
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(base, head, better, bound):
    """base and head are paired value lists; better is 'lower'/'higher'."""
    sign = 1 if better == "higher" else -1
    wins = sum(1 for b, h in zip(base, head) if sign * (h - b) > 0)
    bq1, bmed, bq3 = quartiles(base)
    hq1, hmed, hq3 = quartiles(head)
    gap = sign * (hmed - bmed)
    if len(base) >= 10 and wins >= 0.9 * len(base) and gap > bq3 - bq1:
        return "gain", wins
    if bound is None:
        return "same", wins
    if -gap > bound * abs(bmed):
        return "regression", wins
    spread = max((bq3 - bq1) / abs(bmed) if bmed else 0, (hq3 - hq1) / abs(hmed) if hmed else 0)
    all_better = min(sign * h for h in head) > max(sign * b for b in base)
    if spread > bound and not all_better:
        return "unresolved", wins
    return "same", wins


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    metrics = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    base, head = load(sys.argv[1]), load(sys.argv[2])
    keys = sorted(set(base) & set(head))
    if not keys:
        sys.exit("no runs pair up (same workload, seed and trace flag on both sides)")
    for side, runs in (("base", base), ("head", head)):
        r = [runs[k] for k in keys]
        print(f"{side}: git {sorted({x['git_head'] for x in r})}, nproc {sorted({x['nproc'] for x in r})}, "
              f"jvm {r[0]['jvm_flags']}, load1 start/end max "
              f"{max(x['load_start'][0] for x in r):.2f}/{max(x['load_end'][0] for x in r):.2f}")
    head_first = sum(1 for k in keys if head[k]["started"] < base[k]["started"])
    print(f"{len(keys)} pairs, head ran first in {head_first}; seeds {sorted({k[1] for k in keys})}")
    regressed = False
    print(f"{'workload':14} {'metric':38} {'n':>3} {'base median [q1,q3]':>30} "
          f"{'head median [q1,q3]':>30} {'wins':>5}  verdict")
    for wl in sorted({k[0] for k in keys}):
        for trace in (0, 1):
            ks = [k for k in keys if k[0] == wl and k[2] == trace]
            if not ks:
                continue
            for name in sorted(base[ks[0]]["result"]["metrics"]):
                m = metrics.get(name)
                if m is None:
                    continue
                b = [base[k]["result"]["metrics"][name]["value"] for k in ks]
                h = [head[k]["result"]["metrics"][name]["value"] for k in ks]
                v, wins = verdict(b, h, m["better"], m.get("bound"))
                regressed |= v == "regression"
                bq, hq = quartiles(b), quartiles(h)
                print(f"{wl:14} {name:38} {len(ks):3} "
                      f"{bq[1]:12.5g} [{bq[0]:.4g},{bq[2]:.4g}] {hq[1]:12.5g} [{hq[0]:.4g},{hq[2]:.4g}] "
                      f"{wins:5}  {v}")
    failed = [(k, r["result"]["failed"]) for runs in (base, head) for k, r in runs.items()
              if k in keys and r["result"]["failed"]]
    if failed:
        print(f"runs with failed operations: {failed}")
    sys.exit(1 if regressed else 0)


if __name__ == "__main__":
    main()
