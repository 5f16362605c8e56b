#!/usr/bin/env python3
"""Run alternating perfbench pairs of two checkouts and compare them.

Usage: perf_pairs.py <parent-checkout> <change-checkout> <workload> <seed>...

Each seed is one pair: the parent runs first on an even seed, the change
first on an odd one, each as `python3 perfbench/run.py --workload W
--seed SEED --seconds S --trace 0` from its own checkout, S being
`run_seconds` of the change's BENCHMARK.json. The result is perfbench's
last output line, a JSON object. Per end-to-end metric of BENCHMARK.json
it prints each side's median and quartiles, the relative shift of the
medians against the metric's bound, and the pairs the change won (ties
count for neither side), then the gain verdict: a gain holds when the
change wins at least nine tenths of the pairs and the medians differ by
more than the parent's interquartile range. Each run's values follow,
parent then change, in seed order. Exits non-zero when a run fails or
reports a failed operation.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(checkout, workload, seed, seconds):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if not lines:
        sys.exit("%s seed %d: no result line (exit %d)" % (checkout, seed, p.returncode))
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(usage=__doc__.splitlines()[2][len("Usage: "):])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("workload")
    ap.add_argument("seeds", type=int, nargs="+")
    a = ap.parse_args()
    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]

    runs = {"parent": [], "change": []}
    for seed in a.seeds:
        order = ["parent", "change"] if seed % 2 == 0 else ["change", "parent"]
        for side in order:
            r = run(getattr(a, side), a.workload, seed, seconds)
            runs[side].append(r)
            print("seed %d %s: correct %s, failed %d/%d" % (
                seed, side, r["correct"], r["failed"], r["attempted"]), file=sys.stderr)

    ok = all(r["correct"] and r["failed"] == 0 for side in runs.values() for r in side)
    n = len(a.seeds)
    print("%s, %d pairs, seeds %s" % (a.workload, n, " ".join(map(str, a.seeds))))
    for m in bench["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        p = [r["metrics"][name]["value"] for r in runs["parent"]]
        c = [r["metrics"][name]["value"] for r in runs["change"]]
        pm, cm = statistics.median(p), statistics.median(c)
        pq, cq = quartiles(p), quartiles(c)
        wins = sum(1 for x, y in zip(p, c) if (y < x if lower else y > x))
        shift = (cm - pm) / pm if pm else 0.0
        worse = shift if lower else -shift
        gain = wins >= 0.9 * n and abs(cm - pm) > pq[1] - pq[0] and worse < 0
        print("%-12s parent %10.4g [%.4g-%.4g]  change %10.4g [%.4g-%.4g]  %+6.1f%% "
              "(bound %.0f%%%s)  change won %d/%d  %s" % (
                  name, pm, pq[0], pq[1], cm, cq[0], cq[1], 100 * shift, 100 * m["bound"],
                  ", EXCEEDED" if worse > m["bound"] else "", wins, n,
                  "GAIN" if gain else "no gain"))
    for m in bench["end_to_end"]:
        name = m["name"]
        print("%s runs: parent %s / change %s" % (
            name, " ".join("%.4g" % r["metrics"][name]["value"] for r in runs["parent"]),
            " ".join("%.4g" % r["metrics"][name]["value"] for r in runs["change"])))
    if not ok:
        print("a run failed a check or an operation")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
