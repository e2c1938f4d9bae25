#!/usr/bin/env python3
"""Paired benchmark runs: the working tree against a parent commit.

    python3 tools/paired_bench.py [--parent REV] [--seeds N] [--aa]

Extracts `git archive REV` (default HEAD) under .bench_build/paired/, then
for each workload BENCHMARK.json gates and each seed 1..N (default 10) runs
the BENCHMARK.json command (`python3 geobench/run.py`) with
`--workload W --seed S --seconds <run_seconds>` once in each tree, the
parent first on odd seeds and the change first on even ones. Each tree
builds its own benchmark on its first run.

For each workload and end-to-end metric it prints each side's median and
quartiles, the change's wins out of the pairs (ties count for neither) and
one verdict, judged in this order:

    better            wins >= 9/10 of the pairs and the medians differ, in
                      the metric's better direction, by more than the
                      parent's interquartile distance
    worse than bound  the change's median is worse than the parent's by
                      more than the metric's bound
    unresolved        the parent's full range exceeds the bound, so a
                      change within it cannot be told from noise
    within bound      otherwise

--aa runs two copies of the parent instead (the A/A noise floor). The
script reads BENCHMARK.json and runs geobench/; it changes neither. It
exits non-zero only when a run prints no result line.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def extract(sha, dest):
    """A `git archive` copy of sha at dest, kept (with its benchmark build)
    for later invocations."""
    if os.path.isdir(dest):
        return
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    archive = subprocess.run(["git", "archive", sha], cwd=ROOT, check=True,
                             capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", tmp], input=archive, check=True)
    os.rename(tmp, dest)


def run(tree, command, workload, seed, seconds):
    """One benchmark run in tree; its metrics {name: value}, or None when it
    printed no result line."""
    cmd = command + ["--workload", workload, "--seed", str(seed),
                     "--seconds", str(seconds)]
    out = subprocess.run(cmd, cwd=tree, capture_output=True, text=True).stdout
    for line in reversed(out.splitlines()):
        if line.startswith("{"):
            try:
                metrics = json.loads(line)["metrics"]
            except (ValueError, KeyError):
                return None
            return {k: v["value"] for k, v in metrics.items()}
    return None


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def verdict(spec, parent, change):
    """(wins, verdict) for one metric over paired runs."""
    sign = 1 if spec["better"] == "higher" else -1
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    mp, mc = statistics.median(parent), statistics.median(change)
    q1, q3 = quartiles(parent)
    bound = spec["bound"] * abs(mp)
    if wins >= 0.9 * len(parent) and sign * (mc - mp) > q3 - q1:
        return wins, "better"
    if sign * (mp - mc) > bound:
        return wins, "worse than bound"
    if max(parent) - min(parent) > bound:
        return wins, "unresolved"
    return wins, "within bound"


def fmt(x):
    return f"{x:.4g}"


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--parent", default="HEAD", help="parent commit (default HEAD)")
    p.add_argument("--seeds", type=int, default=10, help="pairs per workload")
    p.add_argument("--aa", action="store_true",
                   help="run two copies of the parent (A/A noise floor)")
    a = p.parse_args()

    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    sha = subprocess.run(["git", "rev-parse", "--verify", a.parent + "^{commit}"],
                         cwd=ROOT, check=True, capture_output=True,
                         text=True).stdout.strip()
    base = os.path.join(ROOT, ".bench_build", "paired")
    parent = os.path.join(base, sha)
    extract(sha, parent)
    change = ROOT
    if a.aa:
        change = parent + "-b"
        extract(sha, change)

    side = lambda t: "parent" if t == parent else "change"
    missing = 0
    results = {}
    for w in [w["name"] for w in bench["workloads"]]:
        runs = {parent: [], change: []}
        for seed in range(1, a.seeds + 1):
            order = [parent, change] if seed % 2 else [change, parent]
            got = {t: run(t, bench["command"], w, seed, bench["run_seconds"])
                   for t in order}
            for t in order:
                if got[t] is None:
                    missing += 1
                    print(f"{w} seed {seed}: {side(t)} printed no result line",
                          file=sys.stderr)
            if all(got.values()):
                for t in order:
                    runs[t].append(got[t])
            print(f"{w} seed {seed} done ({side(order[0])} first)", file=sys.stderr)
        results[w] = runs

    label = "parent copy" if a.aa else "working tree"
    for w, runs in results.items():
        n = len(runs[parent])
        print(f"\n{w}: {n} pairs, parent {a.parent} vs {label}")
        if n == 0:
            continue
        print(f"  {'metric':<28} {'parent median [q1, q3]':<34} "
              f"{'change median [q1, q3]':<34} {'wins':<7} verdict")
        for spec in bench["end_to_end"]:
            m = spec["name"]
            pv = [r[m] for r in runs[parent] if m in r]
            cv = [r[m] for r in runs[change] if m in r]
            if len(pv) != n or len(cv) != n:
                print(f"  {m:<28} not reported by every run")
                continue
            wins, word = verdict(spec, pv, cv)
            cells = []
            for xs in (pv, cv):
                q1, q3 = quartiles(xs)
                cells.append(f"{fmt(statistics.median(xs))} [{fmt(q1)}, {fmt(q3)}]")
            print(f"  {m:<28} {cells[0]:<34} {cells[1]:<34} {wins:>2}/{n:<4} {word}")
    sys.exit(1 if missing else 0)


if __name__ == "__main__":
    main()
