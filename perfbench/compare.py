#!/usr/bin/env python3
"""A/B comparison of two sets of benchmark runs.

    python3 perfbench/compare.py PARENT CHANGE

PARENT and CHANGE are files or directories holding the standard output
of `perfbench/run.py` runs (any number of runs per file; every `*.out`
file in a directory is read). For each workload and metric it prints
each side's median and quartiles and a verdict:

  gain        the change wins at least 9/10 of the pairs (ties count for
              neither) and the medians differ by more than the parent's
              interquartile range;
  worse       the change's median is worse than the parent's by more
              than the metric's bound (end-to-end metrics only);
  unresolved  a side's spread (IQR / median) is wider than the bound,
              unless every change run beats every parent run;
  same        none of the above.

Runs are paired by seed where both sides ran the same seed, otherwise
in the order they were read. Run the two sides alternately, parent then
change, seed by seed: two sets run one after the other mix the
machine's drift into the verdict (DESIGN.md).
"""
import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

SPEC = json.loads(
    (Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
META = {m["name"]: m for m in SPEC["end_to_end"] + SPEC["per_layer"]}


def runs(path):
    """(workload, seed, metrics) for every run in `path`."""
    p = Path(path)
    files = sorted(p.glob("*.out")) if p.is_dir() else [p]
    out = []
    for f in files:
        info = None
        for line in f.read_text().splitlines():
            if not line.startswith("{"):
                continue
            d = json.loads(line)
            if "perfbench_run" in d:
                info = d["perfbench_run"]
            elif "metrics" in d and info is not None:
                out.append((info["workload"], info["seed"],
                            {k: v["value"] for k, v in d["metrics"].items()}))
                info = None
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(name, a, b):
    m = META.get(name, {"better": "lower"})
    sign = 1 if m["better"] == "lower" else -1
    bound = m.get("bound")
    pairs = list(zip(a, b))
    wins = sum(1 for x, y in pairs if sign * (x - y) > 0)
    aq1, amed, aq3 = quartiles(a)
    bq1, bmed, bq3 = quartiles(b)
    gap = sign * (amed - bmed)  # > 0: the change is better
    if wins >= 0.9 * len(pairs) and gap > aq3 - aq1:
        return "gain", wins, len(pairs)
    if bound is not None and amed and -gap > bound * abs(amed):
        return "worse", wins, len(pairs)
    if bound is not None and amed and bmed:
        wide = max((aq3 - aq1) / abs(amed), (bq3 - bq1) / abs(bmed)) > bound
        separated = all(sign * (x - y) > 0 for x in a for y in b)
        if wide and not separated:
            return "unresolved", wins, len(pairs)
    return "same", wins, len(pairs)


def pair(a_runs, b_runs):
    """Aligns two lists of (seed, value) by seed, else by order."""
    a_by, b_by = dict(a_runs), dict(b_runs)
    common = [s for s, _ in a_runs if s in b_by]
    if len(common) == min(len(a_runs), len(b_runs)):
        return [a_by[s] for s in common], [b_by[s] for s in common]
    n = min(len(a_runs), len(b_runs))
    return [v for _, v in a_runs[:n]], [v for _, v in b_runs[:n]]


def main(parent, change):
    sides = []
    for path in (parent, change):
        by = defaultdict(lambda: defaultdict(list))
        for wl, seed, metrics in runs(path):
            for k, v in metrics.items():
                by[wl][k].append((seed, v))
        sides.append(by)
    pa, ch = sides
    fmt = "{:<16} {:<36} {:>34} {:>34} {:>8} {}"
    print(fmt.format("workload", "metric", "parent q1/med/q3",
                     "change q1/med/q3", "wins", "verdict"))
    for wl in sorted(set(pa) | set(ch)):
        for name in sorted(set(pa[wl]) | set(ch[wl])):
            a, b = pair(pa[wl].get(name, []), ch[wl].get(name, []))
            if not a or not b:
                print(fmt.format(wl, name, "-", "-", "-", "missing"))
                continue
            v, wins, n = verdict(name, a, b)
            q = lambda xs: "/".join(f"{x:.4g}" for x in quartiles(xs))
            print(fmt.format(wl, name, q(a), q(b), f"{wins}/{n}", v))


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
