#!/usr/bin/env python3
"""Compares two sets of benchmark results, parent against change.

Usage: python3 perfbench/compare.py <parent_results_dir> <change_results_dir>

Each directory holds the files run.py writes to
$CARGO_TARGET_DIR/perfbench/results/: <workload>.seed<n>.trace0.json, one
per run. Copy that directory aside after running the parent commit, then
run the same seeds on the change.

For each workload and end-to-end metric in BENCHMARK.json it prints both
medians and quartiles, the fraction of seed-matched pairs the change wins
(ties count for neither side), and a verdict:

  improved      the change wins at least 9 of 10 pairs and the medians
                differ by more than the parent's own quartile spread
  regressed     the change's median is worse than the parent's by more
                than the metric's bound
  unresolved    a side's quartile spread, as a share of its median, is
                wider than the bound, and not every change run beats
                every parent run
  within bound  otherwise
"""
import glob
import json
import os
import re
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(d):
    """{workload: {seed: metrics}} from the trace-0 result files of d."""
    out = {}
    for f in glob.glob(os.path.join(d, "*.trace0.json")):
        m = re.match(r"(.+)\.seed(-?\d+)\.trace0\.json$", os.path.basename(f))
        if m:
            with open(f) as fh:
                out.setdefault(m.group(1), {})[int(m.group(2))] = json.load(fh)["metrics"]
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(parent, change, pairs, bound, lower_better):
    sign = 1 if lower_better else -1
    pq1, pmed, pq3 = quartiles(parent)
    cq1, cmed, cq3 = quartiles(change)
    wins = sum(1 for p, c in pairs if sign * (p - c) > 0)
    win_frac = wins / len(pairs) if pairs else 0.0
    worse = sign * (cmed - pmed) / pmed  # > 0 means the change is worse
    spread = max((pq3 - pq1) / pmed, (cq3 - cq1) / cmed)
    all_better = all(sign * (p - c) > 0 for p in parent for c in change)
    if pairs and win_frac >= 0.9 and abs(cmed - pmed) > (pq3 - pq1) and worse < 0:
        v = "improved"
    elif worse > bound:
        v = "regressed"
    elif spread > bound and not all_better:
        v = "unresolved"
    else:
        v = "within bound"
    return (pq1, pmed, pq3), (cq1, cmed, cq3), win_frac, worse, v


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    parent, change = load(sys.argv[1]), load(sys.argv[2])
    print(f"{'workload':<14} {'metric':<12} {'parent q1/med/q3':<32} {'change q1/med/q3':<32} "
          f"{'wins':>6} {'worse':>8}  verdict")
    for w in [x["name"] for x in spec["workloads"]]:
        p_runs, c_runs = parent.get(w, {}), change.get(w, {})
        if not p_runs or not c_runs:
            print(f"{w:<14} (no results on {'parent' if not p_runs else 'change'})")
            continue
        for m in spec["end_to_end"]:
            name = m["name"]
            pv = [r[name]["value"] for r in p_runs.values() if name in r]
            cv = [r[name]["value"] for r in c_runs.values() if name in r]
            if not pv or not cv:
                continue
            pairs = [(p_runs[s][name]["value"], c_runs[s][name]["value"])
                     for s in sorted(set(p_runs) & set(c_runs))]
            pq, cq, wf, worse, v = verdict(pv, cv, pairs, m["bound"], m["better"] == "lower")
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
            wins = f"{wf:.2f}" if pairs else "-"
            print(f"{w:<14} {name:<12} {fmt(pq):<32} {fmt(cq):<32} {wins:>6} {worse:>+8.3f}  {v}")


if __name__ == "__main__":
    main()
