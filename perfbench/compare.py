#!/usr/bin/env python3
"""Compare two sets of benchmark runs: the parent commit's and a change's.

    python3 perfbench/compare.py parent.jsonl change.jsonl

Each input has one run per line, ``{"workload": W, "seed": N, "result": R}``
where R is the JSON object ``run.py`` prints last. Collect a set with, for
example::

    for s in 1 2 3 4 5 6 7 8 9 10; do
      r=$(python3 perfbench/run.py --workload graph_iterative --seed $s \\
            --seconds 12 --trace 0 | tail -1)
      echo "{\\"workload\\": \\"graph_iterative\\", \\"seed\\": $s, \\"result\\": $r}"
    done >> parent.jsonl

Run both sides with the same benchmark code and settings, alternating
which side goes first. For each workload and metric it prints each side's
median and quartiles, the share of pairs the change won (runs paired by
seed; ties count for neither side) and, for metrics with a bound in
``BENCHMARK.json``, a verdict:

- ``improved``: the change won at least 9 of 10 pairs and the medians
  differ, in the better direction, by more than the parent's quartile
  spread;
- ``no worse``: the change's median is within the bound of the parent's
  and both sides' quartile spreads are within the bound;
- ``worse``: the change's median is worse than the parent's by more than
  the bound;
- ``unresolved``: a side's spread is wider than the bound, unless every
  change run beats every parent run.

A failed operation is left out of every latency sample, so a change that
breaks operations can look faster. A workload with a failed or incorrect
run on either side, or with more failed operations on the change's side
than on the parent's, therefore gets the verdict ``failed`` on every
metric, never a timing verdict.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    runs = {}
    with open(path) as f:
        for n, line in enumerate(f, 1):
            if line.strip():
                try:
                    d = json.loads(line)
                    runs.setdefault(d["workload"], []).append((d["seed"], d["result"]))
                except (ValueError, KeyError) as e:
                    sys.exit(f"{path}:{n}: not a run line ({e})")
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(p, c, better, bound):
    sign = 1 if better == "higher" else -1
    pq1, pmed, pq3 = quartiles(p)
    cq1, cmed, cq3 = quartiles(c)
    pairs = list(zip(p, c))
    wins = sum(1 for a, b in pairs if sign * (b - a) > 0)
    share = wins / len(pairs) if pairs else float("nan")
    if bound is None:
        return share, "-"
    if share >= 0.9 and sign * (cmed - pmed) > (pq3 - pq1):
        return share, "improved"
    all_better = all(sign * (b - a) > 0 for a in p for b in c)
    spread_ok = all(med and (q3 - q1) / abs(med) <= bound
                    for q1, med, q3 in ((pq1, pmed, pq3), (cq1, cmed, cq3)))
    worse_by = -sign * (cmed - pmed) / abs(pmed) if pmed else 0.0
    if not spread_ok and not all_better:
        return share, "unresolved"
    if worse_by > bound:
        return share, "worse"
    return share, "no worse"


def main(argv):
    if len(argv) != 2:
        sys.exit(__doc__)
    bench = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    spec = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    parent, change = load(argv[0]), load(argv[1])
    for w in sorted(set(parent) | set(change)):
        ps, cs = parent.get(w, []), change.get(w, [])
        print(f"== {w}: {len(ps)} parent runs, {len(cs)} change runs")
        bad = [(side, s) for side, rs in (("parent", ps), ("change", cs)) for s, r in rs
               if not r["correct"] or r["failed"]]
        for side, s in bad:
            print(f"   {side} seed {s}: failed or incorrect run")
        if not ps or not cs:
            continue
        p_failed = sum(r["failed"] for _, r in ps)
        c_failed = sum(r["failed"] for _, r in cs)
        if c_failed > p_failed:
            print(f"   change failed {c_failed} operations, parent {p_failed}")
        # pair runs by seed where both sides ran it, else by position
        cmap = dict(cs)
        paired = [(r, cmap[s]) for s, r in ps if s in cmap] or list(zip(
            [r for _, r in ps], [r for _, r in cs]))
        print(f"   {'metric':34} {'parent med [q1, q3]':>30} {'change med [q1, q3]':>30}"
              f" {'delta':>8} {'won':>5}  verdict")
        for name in sorted(set(ps[0][1]["metrics"]) & set(cs[0][1]["metrics"])):
            m = spec.get(name, {"better": "lower", "unit": "?"})
            p = [r["metrics"][name]["value"] for _, r in ps]
            c = [r["metrics"][name]["value"] for _, r in cs]
            pp = [a["metrics"][name]["value"] for a, _ in paired]
            cc = [b["metrics"][name]["value"] for _, b in paired]
            share, v = verdict(pp, cc, m["better"], m.get("bound"))
            if bad or c_failed > p_failed:
                v = "failed"
            pq, cq = quartiles(p), quartiles(c)
            delta = (cq[1] - pq[1]) / abs(pq[1]) if pq[1] else float("nan")
            print(f"   {name:34} {pq[1]:12.4g} [{pq[0]:.4g}, {pq[2]:.4g}]".ljust(67) +
                  f" {cq[1]:12.4g} [{cq[0]:.4g}, {cq[2]:.4g}]".ljust(31) +
                  f" {delta:+8.1%} {share:5.0%}  {v}")


if __name__ == "__main__":
    main(sys.argv[1:])
