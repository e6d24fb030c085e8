#!/usr/bin/env python3
"""Steadiness runner: repeat a workload and report each metric's spread.

Usage (from the checkout root):
    python3 perfbench/steady.py --workload rt_stream --runs 10
    python3 perfbench/steady.py --workload lake_cdc --runs 10 --first-seed 101
    python3 perfbench/steady.py --workload query_suite --runs 10 \
        --tree ../parent-checkout --tree .
    python3 perfbench/steady.py --workload lake_cdc --runs 3 --overhead

Each run is `perfbench/run.py --workload W --seed S --seconds <run_seconds>`
with a different seed per run. For every metric it prints the median, the
quartiles (Python's statistics.quantiles, n=4) and the spread, the distance
between the quartiles as a share of the median, beside the metric's bound
from BENCHMARK.json. Given two --tree checkouts it alternates between them,
run by run, with the same seeds on both, and prints how often the second
beats the first. --overhead runs each seed untraced and traced and prints
the traced minus the untraced value of every end-to-end metric.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def bench_spec(tree):
    with open(os.path.join(tree, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(tree, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"run failed in {tree}: seed {seed} (exit {p.returncode})")
    result = json.loads(lines[-1])
    # traced runs print their end-to-end figures on an earlier line
    e2e = next((json.loads(l.split(" end-to-end ", 1)[1]) for l in lines
                if l.startswith("[perfbench]") and " end-to-end " in l), {})
    return result, e2e


def summary(values):
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) >= 2 else (med, med, med)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def report(title, samples, bounds):
    print(f"== {title}")
    print(f"{'metric':28} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
    for name, values in samples.items():
        med, q1, q3, spread = summary(values)
        b = bounds.get(name)
        flag = "" if b is None else ("  over bound/3" if spread > b / 3 else "")
        print(f"{name:28} {med:12.6g} {q1:12.6g} {q3:12.6g} {spread:8.3f} "
              f"{'' if b is None else b:>6}{flag}")


def main():
    ap = argparse.ArgumentParser(description="repeat a workload, report medians and spreads")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tree", action="append", help="checkout to run in (give two to compare)")
    ap.add_argument("--overhead", action="store_true")
    a = ap.parse_args()
    trees = [os.path.abspath(t) for t in (a.tree or [os.path.dirname(HERE)])]
    spec = bench_spec(trees[0])
    seconds = spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    seeds = [a.first_seed + i for i in range(a.runs)]
    if a.overhead:
        diff = {}
        for s in seeds:
            _, plain = run_once(trees[0], a.workload, s, seconds, 0)
            _, traced = run_once(trees[0], a.workload, s, seconds, 1)
            for k, v in plain.items():
                if k in traced:
                    diff.setdefault(k, []).append(traced[k]["value"] - v["value"])
        print(f"== tracing overhead on {a.workload} (traced minus untraced, {len(seeds)} seeds)")
        for k, xs in diff.items():
            print(f"{k:28} median {statistics.median(xs):+.6g}  per seed "
                  + " ".join(f"{x:+.4g}" for x in xs))
        return
    per_tree = [{} for _ in trees]
    failures = [0 for _ in trees]
    for i, s in enumerate(seeds):
        # alternate which tree goes first, pair by pair
        order = list(range(len(trees))) if i % 2 == 0 else list(reversed(range(len(trees))))
        for t in order:
            result, _ = run_once(trees[t], a.workload, s, seconds, a.trace)
            failures[t] += result["failed"]
            for k, v in result["metrics"].items():
                per_tree[t].setdefault(k, []).append(v["value"])
            print(f"seed {s} {os.path.basename(trees[t]) or trees[t]}: correct={result['correct']} "
                  + " ".join(f"{k}={v['value']:.6g}" for k, v in result["metrics"].items()),
                  file=sys.stderr)
    for t, tree in enumerate(trees):
        report(f"{a.workload} in {tree} ({len(seeds)} runs, {failures[t]} failed ops)",
               per_tree[t], bounds if a.trace == 0 else {})
    if len(trees) == 2:
        print("== second vs first: share of seeds where the second is better")
        better = {m["name"]: m["better"] for m in spec["end_to_end"]}
        for k in per_tree[0]:
            if k not in better:
                continue
            wins = sum((b < a_) if better[k] == "lower" else (b > a_)
                       for a_, b in zip(per_tree[0][k], per_tree[1][k]))
            print(f"{k:28} {wins}/{len(seeds)}")


if __name__ == "__main__":
    main()
