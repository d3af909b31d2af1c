#!/usr/bin/env python3
"""Alternating-pair comparison of two checkouts on one benchmark workload.

Usage:
  python3 scripts/pairs.py --parent <dir> --change <dir> --workload daily_batch \
      --seed 1 --pairs 10

Each pair runs the benchmark's command (`python3 finbench/run.py --workload W
--seed S --seconds N`, N being its `run_seconds`) once in each checkout (its
own build, inputs and run directory), the side that goes first alternating
from pair to pair, so a slow period of the machine falls on both sides
alike. Then, per end-to-end metric, it prints:

  - each side's median and quartiles (statistics.quantiles, n=4);
  - the parent's interquartile range (IQR);
  - the pairs the change won (ties count for neither side);
  - whether the gain rule holds: the change won at least 9/10 of the pairs
    and its median is better than the parent's by more than the parent's
    IQR.

The command, `run_seconds` and each metric's better direction
(`end_to_end[].better`) are read from `BENCHMARK.json` in the change's
checkout; the script stops with an error if that file or the entry of a
metric a run prints is missing. It only runs the benchmark's command; it
reads nothing else of it.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(root, bench, a):
    cmd = bench["command"] + ["--workload", a.workload, "--seed", str(a.seed),
                              "--seconds", str(bench["run_seconds"])]
    r = subprocess.run(cmd, cwd=root, text=True, stdout=subprocess.PIPE,
                       stdin=subprocess.DEVNULL)
    lines = [x for x in r.stdout.splitlines() if x.startswith("{")]
    if r.returncode != 0 or not lines:
        sys.exit(f"pairs.py: {' '.join(cmd)} failed in {root} (exit {r.returncode})")
    result = json.loads(lines[-1])
    unlisted = sorted(set(result["metrics"]) - set(bench["better"]))
    if unlisted:
        sys.exit(f"pairs.py: no end_to_end entry in the change's BENCHMARK.json for "
                 f"{', '.join(unlisted)}")
    return result


def load_benchmark(root):
    path = os.path.join(root, "BENCHMARK.json")
    try:
        with open(path) as f:
            b = json.load(f)
        return {"command": b["command"], "run_seconds": b["run_seconds"],
                "better": {m["name"]: m["better"] for m in b["end_to_end"]}}
    except (OSError, KeyError, TypeError, ValueError) as e:
        sys.exit(f"pairs.py: cannot read the command, run_seconds and end_to_end "
                 f"directions from {path}: {e!r}")


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--pairs", type=int, required=True)
    a = ap.parse_args()
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    bench = load_benchmark(sides["change"])

    runs = {"parent": [], "change": []}
    for i in range(a.pairs):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            r = run_once(sides[side], bench, a)
            runs[side].append(r)
            shown = {k: v["value"] for k, v in r["metrics"].items()}
            print(f"pair {i + 1}/{a.pairs} {side}: correct={r['correct']} "
                  f"failed={r['failed']}/{r['attempted']} {json.dumps(shown)}",
                  file=sys.stderr, flush=True)
    n = a.pairs
    print(f"{a.workload} seed {a.seed}, {n} pairs; "
          f"failed ops parent {sum(r['failed'] for r in runs['parent'])}, "
          f"change {sum(r['failed'] for r in runs['change'])}; "
          f"all correct: {all(r['correct'] for s in runs.values() for r in s)}")

    def spread(q):
        return f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"
    print(f"{'metric':<16} {'parent median [q1, q3]':<30} {'change median [q1, q3]':<30} "
          f"{'parent IQR':<11} {'wins':<6} gain rule")
    for name in runs["parent"][0]["metrics"]:
        p = [r["metrics"][name]["value"] for r in runs["parent"]]
        c = [r["metrics"][name]["value"] for r in runs["change"]]
        lower = bench["better"][name] == "lower"
        wins = sum((cv < pv) if lower else (cv > pv) for pv, cv in zip(p, c))
        pq, cq = quartiles(p), quartiles(c)
        iqr = pq[2] - pq[0]
        gap = (pq[1] - cq[1]) if lower else (cq[1] - pq[1])
        holds = wins * 10 >= 9 * n and gap > iqr
        print(f"{name:<16} {spread(pq):<30} {spread(cq):<30} {iqr:<11.4g} "
              f"{f'{wins}/{n}':<6} {'holds' if holds else 'no'} "
              f"(median gap {gap:+.4g} in the better direction)")


if __name__ == "__main__":
    main()
