"""Run-to-run spread of the end-to-end metrics.

    python3 finbench/stability.py --workloads daily_batch,ledger_replay --seeds 1-10 \
        [--sets 2] [--seconds 10] [--out spread.json]

For each set and workload, runs `finbench/run.py` once per seed (sets are
interleaved: seed by seed, workload by workload) and prints, per metric, the
median, the quartiles (`statistics.quantiles(n=4)`) and the spread: the
distance between the quartiles as a share of the median. With two sets it
also prints the shift of the second set's median against the first.
Run from the root of a checkout.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds(spec):
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def summary(vals):
    q1, med, q3 = statistics.quantiles(vals, n=4)
    return {"median": statistics.median(vals), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(vals), "n": len(vals)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default="daily_batch,ledger_replay,balance_queries")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--out")
    a = ap.parse_args()
    runner = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
    results = {}  # (set, workload) -> list of run results
    for s in seeds(a.seeds):
        for k in range(a.sets):
            for w in a.workloads.split(","):
                t0 = time.monotonic()
                p = subprocess.run([sys.executable, runner, "--workload", w, "--seed", str(s),
                                    "--seconds", str(a.seconds), "--trace", "0"],
                                   stdout=subprocess.PIPE, text=True)
                if p.returncode != 0:
                    sys.exit(f"{w} seed {s} exited with {p.returncode}")
                r = json.loads(p.stdout.strip().splitlines()[-1])
                r["wall_s"] = time.monotonic() - t0
                results.setdefault(f"{k}/{w}", []).append(r)
                print(f"set {k} {w} seed {s}: " + " ".join(
                    f"{m}={v['value']:.4g}" for m, v in r["metrics"].items())
                    + f" failed={r['failed']}/{r['attempted']} wall={r['wall_s']:.1f}s",
                    file=sys.stderr, flush=True)
    report = {}
    for key, rs in results.items():
        metrics = {m: summary([r["metrics"][m]["value"] for r in rs]) for m in rs[0]["metrics"]}
        report[key] = {"metrics": metrics,
                       "failed_share": sum(r["failed"] for r in rs) / sum(r["attempted"] for r in rs),
                       "mean_wall_s": statistics.mean(r["wall_s"] for r in rs)}
    for key, rep in sorted(report.items()):
        print(f"{key}  failed share {rep['failed_share']}  mean wall {rep['mean_wall_s']:.1f} s")
        for m, s in rep["metrics"].items():
            line = (f"  {m:16s} median {s['median']:12.4f}  q1 {s['q1']:12.4f}  "
                    f"q3 {s['q3']:12.4f}  spread {s['spread']:.4f}")
            if not key.startswith("0/"):
                base = report["0/" + key.split("/", 1)[1]]["metrics"][m]["median"]
                line += f"  shift vs set 0 {(s['median'] - base) / base:+.4f}"
            print(line)
    if a.out:
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
