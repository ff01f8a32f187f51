#!/usr/bin/env python3
"""Interleaved parent/change benchmark pairs, and the gain and bound rules
applied to them.

Runs `perfbench/run.py` in two checkouts, alternating which side runs
first in each pair, and prints, for every end-to-end metric that the
change checkout's BENCHMARK.json declares:

  - both sides' median and quartiles;
  - the change's wins out of the pairs (ties count for neither side);
  - whether a gain is shown: wins in at least nine tenths of the pairs,
    and a median difference larger than the parent's interquartile
    spread;
  - whether the change's median is within the metric's regression bound.

Then one line per run: pair, seed, side, `correct`, `failed` of
`attempted`. A run that exits non-zero or prints no result line counts
as incorrect and has no metrics.

Usage:
  python3 scripts/bench_pairs.py --parent ../parent --change . \\
      --workload lake_versioned --seeds 601-610 [--pairs 10] [--seconds 10]

`--seeds` takes a range `a-b` or a comma list; pair i runs seed i of the
list, cycling when there are more pairs than seeds. `--seconds` defaults
to the benchmark's `run_seconds`. Runs go one at a time: the pairs are
only comparable when nothing else loads the host.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def parse_seeds(text):
    if "-" in text:
        a, b = text.split("-", 1)
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in text.split(",")]


def run_once(checkout, workload, seed, seconds):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write("%s seed %d: exit %d\n%s\n" % (checkout, seed, proc.returncode, proc.stderr[-2000:]))
        return {"correct": False, "attempted": None, "failed": None, "metrics": {}}
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="a-b or a,b,c")
    ap.add_argument("--pairs", type=int, help="default: one pair per seed")
    ap.add_argument("--seconds", type=float, help="default: BENCHMARK.json run_seconds")
    a = ap.parse_args()

    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = a.seconds if a.seconds is not None else bench["run_seconds"]
    seeds = parse_seeds(a.seeds)
    pairs = a.pairs or len(seeds)

    runs = []  # (pair, seed, side, result)
    for i in range(pairs):
        seed = seeds[i % len(seeds)]
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            res = run_once(getattr(a, side), a.workload, seed, seconds)
            runs.append((i, seed, side, res))
            sys.stderr.write("pair %d seed %d %s: correct=%s failed=%s\n"
                             % (i, seed, side, res["correct"], res["failed"]))

    def value(i, side, name):
        for j, _, s, res in runs:
            if j == i and s == side:
                m = res["metrics"].get(name)
                return None if m is None else m["value"]

    print("%s, %d pairs, %g s runs" % (a.workload, pairs, seconds))
    print("%-28s %-28s %-28s %6s %-6s %s" % ("metric", "parent q1/median/q3", "change q1/median/q3",
                                            "wins", "gain", "bound"))
    for m in bench["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        both = [(value(i, "parent", name), value(i, "change", name)) for i in range(pairs)]
        both = [(p, c) for p, c in both if p is not None and c is not None]
        if not both:
            print("%-28s no complete pair" % name)
            continue
        par, chg = quartiles([p for p, _ in both]), quartiles([c for _, c in both])
        wins = sum(1 for p, c in both if (c < p if lower else c > p))
        better = par[1] - chg[1] if lower else chg[1] - par[1]
        gain = wins >= 0.9 * len(both) and better > par[2] - par[0]
        worse = -better / abs(par[1]) if par[1] else 0.0
        print("%-28s %-28s %-28s %3d/%-2d %-6s %s" % (
            name, "/".join("%.4g" % x for x in par), "/".join("%.4g" % x for x in chg),
            wins, len(both), "yes" if gain else "no",
            "worse by %.1f%% > %g%%" % (100 * worse, 100 * m["bound"]) if worse > m["bound"]
            else "within %g%%" % (100 * m["bound"])))
    print()
    for i, seed, side, res in runs:
        print("pair %d seed %d %-6s correct=%s failed=%s of %s"
              % (i, seed, side, res["correct"], res["failed"], res["attempted"]))


if __name__ == "__main__":
    main()
