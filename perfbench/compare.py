"""Compare two sets of benchmark results, parent against change.

    python3 perfbench/compare.py PARENT CHANGE

PARENT and CHANGE are each a file, or a directory of files, holding the
standard output of `run.py` runs (any number of runs, any workloads).
Runs of a side are paired with the other side's runs of the same
workload in the order they appear, so record them alternately
(parent, change, parent, ...).  Untraced runs only.

For every workload and end-to-end metric in BENCHMARK.json it prints
each side's median and quartiles, the share of pairs the change won
(ties count for neither), and a verdict:

- improved: at least 10 pairs, the change won at least nine tenths of
  them, and the medians differ, in the better direction, by more than
  the parent's own quartile distance;
- worse: the change's median is worse than the parent's by more than
  the metric's bound (a share of the parent's median);
- no worse: neither of the above;
- unresolved: the parent's quartile distance is wider than the bound,
  so "no worse" cannot be told from noise, unless every change run
  reads better than every parent run.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_runs(path: str) -> dict[str, list[dict]]:
    """workload -> list of metric dicts, in run order."""
    files = ([os.path.join(path, f) for f in sorted(os.listdir(path))]
             if os.path.isdir(path) else [path])
    runs: dict[str, list[dict]] = {}
    for f in files:
        info = None
        with open(f) as fh:
            for line in fh:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                try:
                    obj = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if "perfbench" in obj:
                    info = obj["perfbench"]
                elif "metrics" in obj and info is not None:
                    if not info.get("trace"):
                        runs.setdefault(info["workload"], []).append(
                            {k: v["value"] for k, v in obj["metrics"].items()})
                    info = None
    return runs


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def verdict(parent: list[float], change: list[float], better: str,
            bound: float) -> tuple[float, str]:
    sign = -1.0 if better == "lower" else 1.0
    pairs = list(zip(parent, change))
    wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
    won = wins / len(pairs) if pairs else 0.0
    pq1, pmed, pq3 = quartiles(parent)
    _, cmed, _ = quartiles(change)
    spread = pq3 - pq1
    gain = sign * (cmed - pmed)
    all_better = all(sign * (c - p) > 0 for c in change for p in parent)
    if len(pairs) >= 10 and won >= 0.9 and gain > spread:
        return won, "improved"
    if spread > bound * abs(pmed) and not all_better:
        return won, "unresolved"
    if -gain > bound * abs(pmed):
        return won, "worse"
    return won, "no worse"


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    parent, change = load_runs(argv[0]), load_runs(argv[1])
    print(f"{'workload':18} {'metric':16} {'parent q1/med/q3':>32} "
          f"{'change q1/med/q3':>32} {'won':>5} verdict")
    for wl in sorted(set(parent) | set(change)):
        for m in spec["end_to_end"]:
            p = [r[m["name"]] for r in parent.get(wl, []) if m["name"] in r]
            c = [r[m["name"]] for r in change.get(wl, []) if m["name"] in r]
            if not p or not c:
                print(f"{wl:18} {m['name']:16} missing runs (parent {len(p)}, change {len(c)})")
                continue
            won, v = verdict(p, c, m["better"], m["bound"])
            fmt = "{:.4g}/{:.4g}/{:.4g}"
            print(f"{wl:18} {m['name']:16} {fmt.format(*quartiles(p)):>32} "
                  f"{fmt.format(*quartiles(c)):>32} {won:5.2f} {v} "
                  f"(n={len(p)}/{len(c)}, {m['unit']})")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
