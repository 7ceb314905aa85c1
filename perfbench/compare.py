"""Compare two sets of benchmark runs, per workload and per metric.

    python3 perfbench/compare.py --base base/*.out --change change/*.out

Each file is the standard output of one ``perfbench/run.py`` run (its
last two lines are read).  Runs pair up in the order given, per
workload, so interleave the two sides when making them (base first in
one pair, change first in the next).

For every end-to-end metric the verdict is:

- ``better``: the change wins at least 9 of 10 pairs (ties count for
  neither side) and the medians differ by more than the base's own
  spread (the distance between its quartiles);
- ``worse``: the change's median is worse than the base's by more than
  the metric's bound in ``BENCHMARK.json``;
- ``unresolved``: the base's spread, as a share of its median, exceeds
  the bound, unless every change run beats every base run;
- ``same`` otherwise.

The last line of the output is the table as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_runs(paths: list[str]) -> dict[str, list[dict]]:
    """Workload -> the metric values of each run, in the order given."""
    runs: dict[str, list[dict]] = defaultdict(list)
    for path in paths:
        with open(path) as fh:
            lines = [ln for ln in fh.read().splitlines() if ln.strip()]
        detail, result = json.loads(lines[-2]), json.loads(lines[-1])
        runs[detail["workload"]].append({k: v["value"] for k, v in result["metrics"].items()})
    return runs


def spread(values: list[float]) -> float:
    """Distance between the quartiles."""
    if len(values) < 2:
        return 0.0
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return q3 - q1


def verdict(base: list[float], change: list[float], higher_is_better: bool, bound: float) -> dict:
    sign = 1 if higher_is_better else -1
    pairs = list(zip(base, change))
    wins = sum(1 for b, c in pairs if sign * (c - b) > 0)
    mb, mc = statistics.median(base), statistics.median(change)
    iqr = spread(base)
    rel_spread = iqr / abs(mb) if mb else float("inf")
    all_better = min(sign * c for c in change) > max(sign * b for b in base)
    if wins >= 0.9 * len(pairs) and abs(mc - mb) > iqr:
        result = "better"
    elif sign * (mb - mc) > bound * abs(mb):
        result = "worse"
    elif rel_spread > bound and not all_better:
        result = "unresolved"
    else:
        result = "same"
    return {
        "verdict": result,
        "base_median": mb,
        "change_median": mc,
        "base_quartiles": statistics.quantiles(base, n=4) if len(base) > 1 else [mb] * 3,
        "change_quartiles": statistics.quantiles(change, n=4) if len(change) > 1 else [mc] * 3,
        "pair_wins": wins,
        "pairs": len(pairs),
        "base_spread_frac": rel_spread,
        "bound": bound,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--base", nargs="+", required=True)
    p.add_argument("--change", nargs="+", required=True)
    p.add_argument("--benchmark", default=os.path.join(ROOT, "BENCHMARK.json"))
    args = p.parse_args(argv)
    with open(args.benchmark) as fh:
        metrics = json.load(fh)["end_to_end"]
    base, change = load_runs(args.base), load_runs(args.change)
    table = {}
    for workload in sorted(set(base) & set(change)):
        rows = {}
        for m in metrics:
            name = m["name"]
            b = [r[name] for r in base[workload]]
            c = [r[name] for r in change[workload]]
            rows[name] = verdict(b, c, m["better"] == "higher", m["bound"])
            v = rows[name]
            print(
                f"{workload:14s} {name:28s} {v['verdict']:10s} "
                f"base {v['base_median']:.4g}  change {v['change_median']:.4g}  "
                f"wins {v['pair_wins']}/{v['pairs']}  spread {v['base_spread_frac']:.3f}"
                f" (bound {v['bound']})"
            )
        table[workload] = rows
    print(json.dumps(table))
    return 0


if __name__ == "__main__":
    sys.exit(main())
