"""Compare two sets of benchmark records, metric by metric.

    python3 perfbench/compare.py PARENT.jsonl CHANGE.jsonl

Each file holds the standard output of several ``run.py`` runs; the
record lines (the JSON lines with a ``workload`` key) are read and
grouped by workload. Runs pair up in file order, so run the two sides
alternately, parent first in one pair and change first in the next.

For every (workload, metric) pair this rule is applied:

* each side's median and quartiles, and the parent's spread: the
  distance between its quartiles as a share of its median;
* the share of pairs the change wins, ties counting for neither;
* ``gain`` — the change wins at least nine tenths of the pairs and the
  medians differ by more than the parent's spread;
* ``unresolved`` — the parent's spread exceeds the metric's bound,
  unless every run of the change reads better than every parent run;
* ``regression`` — the change's median is worse than the parent's by
  more than the bound;
* ``within bound`` otherwise.

Bounds and directions come from ``BENCHMARK.json``; per-layer metrics
have no bound and get ``gain`` or ``no claim``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def load(path: str) -> dict[str, dict[str, list[float]]]:
    """workload -> metric -> values, in file order."""
    out: dict[str, dict[str, list[float]]] = defaultdict(lambda: defaultdict(list))
    for line in Path(path).read_text().splitlines():
        if not line.startswith("{"):
            continue
        try:
            rec = json.loads(line)
        except json.JSONDecodeError:
            continue
        if "workload" not in rec:
            continue
        for name, m in rec["metrics"].items():
            out[rec["workload"]][name].append(float(m["value"]))
    return out


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def verdict(parent: list[float], change: list[float], better: str, bound: float | None) -> dict:
    sign = 1.0 if better == "higher" else -1.0
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    spread = (p3 - p1) / abs(pm) if pm else float("inf")
    pairs = list(zip(parent, change))
    wins = sum(1 for a, b in pairs if sign * (b - a) > 0)
    won = wins / len(pairs) if pairs else 0.0
    all_better = all(sign * (b - a) > 0 for a in parent for b in change)
    if won >= 0.9 and sign * (cm - pm) > (p3 - p1):
        word = "gain"
    elif bound is None:
        word = "no claim"
    elif spread > bound and not all_better:
        word = "unresolved"
    elif pm and sign * (cm - pm) / abs(pm) < -bound:
        word = "regression"
    else:
        word = "within bound"
    return {
        "parent": {"median": pm, "q1": p1, "q3": p3, "n": len(parent)},
        "change": {"median": cm, "q1": c1, "q3": c3, "n": len(change)},
        "parent_spread": spread, "pairs": len(pairs), "won": won, "bound": bound,
        "verdict": word,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    args = ap.parse_args(argv)

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    rules = {m["name"]: (m["better"], m.get("bound")) for m in spec["end_to_end"] + spec["per_layer"]}
    parent, change = load(args.parent), load(args.change)
    report = []
    for workload in sorted(set(parent) & set(change)):
        for name in sorted(set(parent[workload]) & set(change[workload])):
            better, bound = rules.get(name, ("lower", None))
            v = verdict(parent[workload][name], change[workload][name], better, bound)
            report.append({"workload": workload, "metric": name, **v})
            print(f"{workload:14s} {name:42s} parent {v['parent']['median']:.4g} "
                  f"[{v['parent']['q1']:.4g}, {v['parent']['q3']:.4g}]  change "
                  f"{v['change']['median']:.4g} [{v['change']['q1']:.4g}, {v['change']['q3']:.4g}]  "
                  f"spread {v['parent_spread']:.3f}  won {v['won']:.2f}  {v['verdict']}")
    print(json.dumps({"comparisons": report}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
