#!/usr/bin/env python3
"""Compare benchmark runs of two commits.

    python3 perfbench/compare.py BASE.jsonl CHANGE.jsonl

Both files are `run.py --record` outputs. Untraced runs are compared metric by
metric, one row per workload, against the bounds in BENCHMARK.json, with the
rule of the choosing-metrics guide (section 8):

- gain: the change wins at least nine tenths of the seed-matched pairs (ties
  count for neither side) and the medians differ by more than the base's own
  quartile spread;
- regression: the change's median is worse than the base's by more than the
  metric's bound;
- unresolved: the base's quartile spread exceeds the bound, so a difference
  within it cannot be told from noise, unless every change run beats every
  base run;
- same: none of the above.

Every ratio is printed with its base value.
"""
import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def load(path):
    runs = defaultdict(dict)
    for line in open(path):
        r = json.loads(line)
        if not r["trace"]:
            runs[r["workload"]][r["seed"]] = r["result"]["metrics"]
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def verdict(metric, base, change, pairs):
    lower = metric["better"] == "lower"
    bm, cm = statistics.median(base), statistics.median(change)
    q1, q3 = quartiles(base)
    spread = (q3 - q1) / bm if bm else 0.0
    worse = (cm - bm) / bm if lower else (bm - cm) / bm
    better = (lambda c, b: c < b) if lower else (lambda c, b: c > b)
    wins = sum(1 for b, c in pairs if better(c, b))
    separated = all(better(c, b) for c in change for b in base)
    if pairs and wins >= 0.9 * len(pairs) and abs(cm - bm) > q3 - q1:
        v = "gain"
    elif worse > metric["bound"]:
        v = "regression"
    elif spread > metric["bound"] and not separated:
        v = "unresolved"
    else:
        v = "same"
    return bm, cm, (q1, q3), spread, wins, v


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    base, change = load(sys.argv[1]), load(sys.argv[2])
    for w in [x["name"] for x in spec["workloads"]]:
        seeds = sorted(set(base[w]) & set(change[w]))
        print(f"{w}: {len(base[w])} base runs, {len(change[w])} change runs, "
              f"{len(seeds)} seed-matched pairs")
        for m in spec["end_to_end"]:
            name = m["name"]
            b = [r[name]["value"] for r in base[w].values()]
            c = [r[name]["value"] for r in change[w].values()]
            if not b or not c:
                print(f"  {name:30s} no runs")
                continue
            pairs = [(base[w][s][name]["value"], change[w][s][name]["value"]) for s in seeds]
            bm, cm, (q1, q3), spread, wins, v = verdict(m, b, c, pairs)
            print(f"  {name:30s} base {bm:.4g} {m['unit']} [q1 {q1:.4g}, q3 {q3:.4g}, spread {spread:.1%}]"
                  f"  change {cm:.4g} = {cm / bm:.3f} x base {bm:.4g}"
                  f"  wins {wins}/{len(pairs)}  bound {m['bound']:.0%}  -> {v}")


if __name__ == "__main__":
    main()
