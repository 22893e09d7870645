"""Compare two sets of benchmark results, per workload and metric.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR

Each directory holds ``<workload>/trace<0|1>-seed<n>-*.json`` files, one
result line each, as ``run.py --out DIR`` writes them. For every metric
the tool prints each side's median and quartiles and the fraction of
paired runs the change wins (runs are paired by seed, else in file
order; ties count for neither side). Following the measurement rule of
the choosing-metrics method:

- ``gain``: the change wins at least 9 of 10 pairs and the medians
  differ by more than the parent's own interquartile distance;
- ``worse``: the change's median is worse than the parent's by more
  than the metric's bound in ``BENCHMARK.json`` (end-to-end metrics);
- ``same``: within the bound; ``unresolved`` when the parent's own
  spread is wider than the bound, unless every change run reads better
  than every parent run.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_runs(root: str) -> dict[tuple[str, int], dict[str, tuple[int, dict]]]:
    """{(workload, trace): {pair key: (file order, metrics)}}"""
    out: dict = {}
    for path in sorted(glob.glob(os.path.join(root, "*", "trace*-seed*.json"))):
        workload = os.path.basename(os.path.dirname(path))
        m = re.match(r"trace([01])-seed(-?\d+)", os.path.basename(path))
        with open(path) as f:
            result = json.loads(f.read().strip().splitlines()[-1])
        runs = out.setdefault((workload, int(m.group(1))), {})
        key = f"seed{m.group(2)}" if f"seed{m.group(2)}" not in runs else path
        runs[key] = (len(runs), {k: v["value"] for k, v in result["metrics"].items()})
    return out


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def pairs(a: dict, b: dict) -> list[tuple[dict, dict]]:
    shared = sorted(set(a) & set(b))
    if shared:
        return [(a[k][1], b[k][1]) for k in shared]
    a_list = [m for _, m in sorted(a.values(), key=lambda t: t[0])]
    b_list = [m for _, m in sorted(b.values(), key=lambda t: t[0])]
    return list(zip(a_list, b_list))


def verdict(a_vals, b_vals, wins, n_pairs, lower_better, bound) -> str:
    q1, med_a, q3 = quartiles(a_vals)
    med_b = statistics.median(b_vals)
    better = (med_b < med_a) if lower_better else (med_b > med_a)
    if n_pairs and wins / n_pairs >= 0.9 and better and abs(med_b - med_a) > (q3 - q1):
        return "gain"
    if bound is None or med_a == 0:
        return "-"
    worse_by = ((med_b - med_a) if lower_better else (med_a - med_b)) / abs(med_a)
    if worse_by > bound:
        return "worse"
    all_better = max(b_vals) < min(a_vals) if lower_better else min(b_vals) > max(a_vals)
    if (q3 - q1) / abs(med_a) > bound and not all_better:
        return "unresolved"
    return "same"


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("parent")
    p.add_argument("change")
    args = p.parse_args(argv)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    parent, change = load_runs(args.parent), load_runs(args.change)
    print(f"{'workload':16s} {'metric':16s} {'parent median [q1, q3]':>30s} "
          f"{'change median [q1, q3]':>30s} {'delta':>7s} {'wins':>6s}  verdict")
    for key in sorted(set(parent) & set(change)):
        workload, _ = key
        paired = pairs(parent[key], change[key])
        for name in sorted(declared):
            a_vals = [m[name] for _, m in parent[key].values() if name in m]
            b_vals = [m[name] for _, m in change[key].values() if name in m]
            if not a_vals or not b_vals:
                continue
            lower = declared[name]["better"] == "lower"
            both = [(a[name], b[name]) for a, b in paired if name in a and name in b]
            wins = sum((b < a) if lower else (b > a) for a, b in both)
            qa, qb = quartiles(a_vals), quartiles(b_vals)
            delta = (qb[1] - qa[1]) / abs(qa[1]) if qa[1] else float("nan")
            v = verdict(a_vals, b_vals, wins, len(both), lower, declared[name].get("bound"))
            side_a = f"{qa[1]:.4g} [{qa[0]:.4g}, {qa[2]:.4g}]"
            side_b = f"{qb[1]:.4g} [{qb[0]:.4g}, {qb[2]:.4g}]"
            print(f"{workload:16s} {name:16s} {side_a:>30s} {side_b:>30s} "
                  f"{delta:>+7.1%} {wins:>2d}/{len(both):<3d}  {v}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
