"""Print two traced runs' per-layer numbers side by side.

    python3 finbench/compare_traces.py .bench_traces/A.json .bench_traces/B.json

A trace is what `run.py --trace 1` leaves in `.bench_traces/`. Spans are
summed by name: count, self time (duration minus what child spans cover),
total time, and the Spark jobs, tasks and shuffle bytes attributed to them.
The last column is B's self time minus A's, so a change shows in which layer
its saving appears.
"""
import json
import sys


def by_name(path):
    with open(path) as f:
        t = json.load(f)
    out = {}
    for s in t["spans"]:
        a = out.setdefault(s["name"], {"n": 0, "self_s": 0.0, "total_s": 0.0,
                                       "jobs": 0, "tasks": 0, "shuffle": 0})
        a["n"] += 1
        a["self_s"] += s["self_s"]
        a["total_s"] += s["end_s"] - s["start_s"]
        a["jobs"] += s["spark"]["jobs"]
        a["tasks"] += s["spark"]["tasks"]
        a["shuffle"] += s["spark"]["shuffle_write_bytes"]
    return t, out


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    (ta, a), (tb, b) = by_name(sys.argv[1]), by_name(sys.argv[2])
    print(f"A: {sys.argv[1]} ({ta.get('workload')}, run {ta['run_id'][:8]})")
    print(f"B: {sys.argv[2]} ({tb.get('workload')}, run {tb['run_id'][:8]})")
    cols = ("n", "self_s", "total_s", "jobs", "tasks", "shuffle")
    print(f"{'span':22s}" + "".join(f"{c + ' A':>11s}{c + ' B':>11s}" for c in cols)
          + f"{'Δself_s':>10s}")
    zero = dict.fromkeys(cols, 0)
    names = list(a) + [n for n in b if n not in a]
    for n in names:
        x, y = a.get(n, zero), b.get(n, zero)
        row = "".join(f"{x[c]:11.3f}{y[c]:11.3f}" if isinstance(x[c] + y[c], float)
                      else f"{x[c]:11d}{y[c]:11d}" for c in cols)
        print(f"{n:22s}{row}{y['self_s'] - x['self_s']:+10.3f}")
    for label, t in (("A", ta), ("B", tb)):
        if "program_stages" in t:
            print(f"ThrivePipeline.run stages ({label}): " + ", ".join(
                f"{s['stage']} {s['seconds']:.3f}s" for s in t["program_stages"]))


if __name__ == "__main__":
    main()
