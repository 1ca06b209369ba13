#!/usr/bin/env python3
"""Parent-vs-change comparison of end-to-end metrics.

Usage:
    python3 perfbench/compare.py <parent results dir> <change results dir>

Each directory is a `perfbench/results` tree from one checkout, filled by
untraced runs (--trace 0) of the same workloads and seeds. Runs are paired
by workload and seed. A change counts as a win on a metric when it is
better in at least 9 of 10 pairs (scaled to the pair count) and its median
differs from the parent's by more than the parent's interquartile range.
"""
import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402

# every end-to-end metric is better when lower
BETTER = "lower"


def load(root):
    out = {}
    for f in glob.glob(os.path.join(root, "*", "seed*-trace0", "result.json")):
        with open(f) as fh:
            r = json.load(fh)
        workload = os.path.basename(os.path.dirname(os.path.dirname(f)))
        seed = os.path.basename(os.path.dirname(f)).split("-")[0]
        out.setdefault(workload, {})[seed] = r["e2e"]
    return out


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    parent, change = load(sys.argv[1]), load(sys.argv[2])
    for w in sorted(set(parent) & set(change)):
        seeds = sorted(set(parent[w]) & set(change[w]))
        if len(seeds) < 2:
            print(f"{w}: fewer than two paired seeds")
            continue
        need = -(-9 * len(seeds) // 10)
        print(f"{w}: {len(seeds)} paired seeds, a win needs {need} of them")
        runs = [parent[w][s] for s in seeds] + [change[w][s] for s in seeds]
        for m in sorted(set.intersection(*(set(r) for r in runs))):
            p = [parent[w][s][m] for s in seeds]
            c = [change[w][s][m] for s in seeds]
            won, wins, gap, iqr = stats.change_wins(p, c, BETTER, need)
            lost = stats.change_wins(c, p, BETTER, need)[0]
            verdict = "WIN" if won else "LOSS" if lost else "no change"
            print(f"  {m:12s} parent {stats.median(p):10.4g}  change {stats.median(c):10.4g}"
                  f"  better in {wins}/{len(seeds)}  gap {gap:+.4g} vs IQR {iqr:.4g}  {verdict}")


if __name__ == "__main__":
    main()
