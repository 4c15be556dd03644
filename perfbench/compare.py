#!/usr/bin/env python3
"""Compare two sets of benchmark runs: the parent commit and a change.

Record runs from the root of each checkout, alternating between the two
sides and using the same seeds on both:

    python3 perfbench/compare.py record parent.jsonl --workload pipeline --seed 1
    python3 perfbench/compare.py record change.jsonl --workload pipeline --seed 1

then compare:

    python3 perfbench/compare.py report parent.jsonl change.jsonl

The report prints one row per (metric, workload): each side's median and
quartiles, how many seed-matched pairs the change won (ties count for
neither side), and a verdict, using the bounds in BENCHMARK.json:

* improved: the change wins at least nine tenths of the pairs and its
  median beats the parent's by more than the parent's own quartile spread;
* worse: the change's median is worse than the parent's by more than the
  bound;
* unresolved: the parent's quartile spread is wider than the bound and the
  change's runs do not all read better than all of the parent's;
* unchanged: otherwise.

Per-layer metrics have no bound; their rows show medians, quartiles and
pair wins with no verdict. Runs whose `correct` is false are listed first.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def record(path, workload, seed, trace):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(bench()["run_seconds"]), "--trace", str(trace)]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
    if out.returncode != 0:
        sys.exit(f"run failed: {' '.join(cmd)}")
    res = json.loads(out.stdout.strip().splitlines()[-1])
    res.update(workload=workload, seed=seed, trace=trace)
    with open(path, "a") as f:
        f.write(json.dumps(res) + "\n")
    print(json.dumps(res))


def bench():
    return json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))


def load(path):
    return [json.loads(line) for line in open(path) if line.strip()]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(parent, change, pairs, better, bound):
    pq1, pm, pq3 = quartiles(parent)
    _, cm, _ = quartiles(change)
    sign = 1 if better == "higher" else -1
    wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
    spread = pq3 - pq1
    if bound is None:
        return wins, "-"
    if pairs and wins >= 0.9 * len(pairs) and sign * (cm - pm) > spread:
        return wins, "improved"
    if sign * (pm - cm) > bound * abs(pm):
        return wins, "worse"
    all_better = all(sign * (c - p) > 0 for c in change for p in parent)
    if pm and spread / abs(pm) > bound and not all_better:
        return wins, "unresolved"
    return wins, "unchanged"


def report(parent_path, change_path):
    spec = bench()
    parent, change = load(parent_path), load(change_path)
    for side, runs in (("parent", parent), ("change", change)):
        for r in runs:
            if not r["correct"]:
                print(f"INCORRECT {side} {r['workload']} seed {r['seed']}: "
                      f"{r['failed']}/{r['attempted']} ops failed")
    metrics = [(m, m.get("bound")) for m in spec["end_to_end"] + spec["per_layer"]]
    header = (f"{'metric':44} {'workload':12} {'parent q1/med/q3':>30} "
              f"{'change q1/med/q3':>30} {'wins':>7}  verdict")
    print(header)
    for w in [x["name"] for x in spec["workloads"]]:
        for m, bound in metrics:
            name = m["name"]

            def vals(runs):
                return {r["seed"]: r["metrics"][name]["value"] for r in runs
                        if r["workload"] == w and name in r["metrics"]}
            pv, cv = vals(parent), vals(change)
            if not pv or not cv:
                continue
            pairs = [(pv[s], cv[s]) for s in sorted(set(pv) & set(cv))]
            wins, v = verdict(list(pv.values()), list(cv.values()), pairs, m["better"], bound)
            fmt = lambda xs: "/".join(f"{x:.4g}" for x in quartiles(list(xs.values())))
            print(f"{name:44} {w:12} {fmt(pv):>30} {fmt(cv):>30} "
                  f"{wins:>3}/{len(pairs):<3}  {v}")


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("record")
    r.add_argument("out")
    r.add_argument("--workload", required=True)
    r.add_argument("--seed", type=int, required=True)
    r.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p = sub.add_parser("report")
    p.add_argument("parent")
    p.add_argument("change")
    a = ap.parse_args()
    if a.cmd == "record":
        record(a.out, a.workload, a.seed, a.trace)
    else:
        report(a.parent, a.change)


if __name__ == "__main__":
    main()
