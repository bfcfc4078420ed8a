#!/usr/bin/env python3
"""Compare two sets of benchmark runs, metric by metric.

    python3 perfbench/compare.py <runs A> <runs B>

Each argument is a directory of run records (.bench_build/out/ as a run
leaves it, or a copy) or a list of record files, separated by commas. Only
untraced records (*_trace0.json) count. Within a workload, runs pair up
in seed order, so two sets run with the same seeds pair seed by seed; B is
the candidate.

For each workload and end-to-end metric of BENCHMARK.json it prints both
sides' median and quartiles, how many pairs B wins, and a verdict against
the metric's bound:
  improved    B wins at least 9 in 10 pairs and the medians differ by more
              than A's quartile spread;
  unresolved  either side's quartile spread, as a share of its median, is
              wider than the bound, and not every B run beats every A run;
  worse       B's median is worse than A's by more than the bound;
  unchanged   otherwise.
"""
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(arg):
    """{workload: [metrics of each run, in seed order]} of the untraced
    records in `arg`."""
    if os.path.isdir(arg):
        files = glob.glob(os.path.join(arg, "*_trace0.json"))
    else:
        files = arg.split(",")
    records = sorted((json.load(open(f)) for f in files),
                     key=lambda r: r["header"]["seed"])
    runs = {}
    for r in records:
        runs.setdefault(r["header"]["workload"], []).append(r["metrics"])
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(a, b, bound, lower_is_better):
    """(verdict, B's wins, pairs) for paired samples a[i], b[i]."""
    sign = 1 if lower_is_better else -1
    wins = sum(1 for x, y in zip(a, b) if sign * (x - y) > 0)
    pairs = len(a)
    a1, am, a3 = quartiles(a)
    b1, bm, b3 = quartiles(b)
    worse_by = sign * (bm - am) / am
    spread = max((a3 - a1) / am, (b3 - b1) / bm)
    b_all_better = all(sign * (x - y) > 0 for x in a for y in b)
    if wins >= 0.9 * pairs and sign * (am - bm) > (a3 - a1):
        return "improved", wins, pairs
    if spread > bound and not b_all_better:
        return "unresolved", wins, pairs
    if worse_by > bound:
        return "worse", wins, pairs
    return "unchanged", wins, pairs


def main(argv):
    if len(argv) != 2:
        sys.exit(__doc__)
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    a_runs, b_runs = load(argv[0]), load(argv[1])
    workloads = sorted(set(a_runs) & set(b_runs))
    if not workloads:
        sys.exit("no workload is in both sets")
    print("%-13s %-14s %-5s %28s %28s %7s  %s" % (
        "workload", "metric", "unit", "A median [q1, q3]", "B median [q1, q3]",
        "B wins", "verdict"))
    for workload in workloads:
        runs = list(zip(a_runs[workload], b_runs[workload]))
        for m in bench["end_to_end"]:
            a = [x[m["name"]] for x, _ in runs]
            b = [y[m["name"]] for _, y in runs]
            v, wins, pairs = verdict(a, b, m["bound"], m["better"] == "lower")
            qa, qb = quartiles(a), quartiles(b)
            print("%-13s %-14s %-5s %10.4f [%7.4f, %7.4f] %10.4f [%7.4f, %7.4f] %3d/%-3d  %s" % (
                workload, m["name"], m["unit"], qa[1], qa[0], qa[2],
                qb[1], qb[0], qb[2], wins, pairs, v))


if __name__ == "__main__":
    main(sys.argv[1:])
