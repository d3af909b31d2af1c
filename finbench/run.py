"""Finance-pipeline benchmark: one workload in one fresh JVM.

    python3 finbench/run.py --workload daily_batch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Steps:

 1. build, once per source tree: the program with the repo's own `sbt compile`,
    then the benchmark's Scala sources (finbench/src) with scalac against it;
 2. generate the seed's inputs (finbench/gen.py), cached per seed;
 3. start a fresh run directory and launch the JVM directly (no build tool in
    the timed process) on a fixed `local[N]` master;
 4. check the outputs with DuckDB (finbench/check.py), apart from the program;
 5. print one JSON line: correct, attempted, failed and the metrics
    (end-to-end ones with --trace 0, per-layer ones with --trace 1).

Everything it writes stays under `.bench_build/`, `.bench_data/`,
`.bench_run/` and `.bench_traces/` in the checkout.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing in the checkout but the ignored dirs
import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("daily_batch", "ledger_replay", "balance_queries")
END_TO_END = {"setup_s": "s", "run_s": "s", "latency_p50_ms": "ms", "rows_per_s": "rows/s",
              "peak_rss_mb": "MiB"}
# only balance_queries has ten samples beyond its 90th percentile
TAIL = {"balance_queries": {"latency_p90_ms": "ms"}}
# per-layer metrics printed with --trace 1; a layer the workload does not call
# reads 0
PER_LAYER = [
    "sources.ingest_s", "sources.rows",
    "validators.source_s", "validators.results_s", "validators.jobs",
    "fifo.match_s", "fifo.tasks", "fifo.shuffle_bytes", "fifo.task_skew",
    "analytics.s", "analytics.tasks", "analytics.shuffle_bytes",
    "pipeline.sink_s", "pipeline.bytes_written", "pipeline.files_written",
    "replay.stage_s", "replay.readback_s", "replay.triggers", "replay.state_partitions",
    "replay.addBatch_ms_p50", "replay.queryPlanning_ms_p50", "replay.walCommit_ms_p50",
    "replay.commitOffsets_ms_p50", "replay.latestOffset_ms_p50", "replay.state_commit_ms_p50",
    "replay.state_rows", "replay.state_bytes", "replay.tasks",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.scheduler_delay_ms",
    "spark.executor_run_ms", "spark.executor_cpu_ms", "spark.shuffle_write_bytes",
    "spark.spill_bytes", "spark.codegen_compile_ms", "jvm.gc_s", "jvm.jit_ms",
    "queries.plan_ms_p50", "queries.exec_ms_p50", "queries.jobs_per_query",
    "queries.tasks_per_query",
] + [f"queries.q{i:02d}_ms" for i in range(1, 13)]
MASTER_THREADS = 4
HEAP = "2g"
# C1 only: a cold JVM under tiered compilation spends about 1.5 cores on C2
# compiles for the whole run, so its timings follow the machine's spare CPU.
# C1 alone gets a 48 MiB code cache by default, which daily_batch fills, and
# flushing it slows the queries that follow; 240 MiB is the tiered default.
# (See README, "Flags and master".)
JIT = ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m"]
JVM_TIMEOUT_S = 160
MIN_FREE_BYTES = 1 << 30     # refuse to start with less free space under the run dir
KEEP_SEEDS = 12              # generated input sets kept in .bench_data
# what spark-submit adds for Spark on JDK 17 (same list as the repo's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[finbench] {msg}", file=sys.stderr, flush=True)


def die(msg):
    log(msg)
    sys.exit(2)


def sources_digest(root):
    h = hashlib.sha256()
    files = []
    for pat in ("build.sbt", "project/*.sbt", "project/*.scala", "project/build.properties",
                "src/main/**/*", "finbench/src/*.scala"):
        files += [f for f in glob.glob(os.path.join(root, pat), recursive=True) if os.path.isfile(f)]
    for f in sorted(set(files)):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root):
    """Compile the program with the repo's own build, record the classpath
    that build exports for it, and compile finbench/src against that."""
    out = os.path.join(root, ".bench_build")
    stamp = os.path.join(out, "stamp")
    digest = sources_digest(root)
    cp_file = os.path.join(out, "classpath")
    if (os.path.exists(stamp) and open(stamp).read() == digest
            and all(os.path.exists(p) for p in open(cp_file).read().split(os.pathsep))):
        return
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "classes"))
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true")
    with open(os.path.join(out, "build.log"), "w") as lf:
        log("building the program (sbt compile)")
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Compile/fullClasspath"], cwd=root, env=env, text=True,
                           stdout=subprocess.PIPE, stderr=lf, stdin=subprocess.DEVNULL)
        lf.write(r.stdout)
        lines = [x for x in r.stdout.splitlines() if x and not x.startswith("[")]
        if r.returncode != 0 or not lines:
            die(f"sbt compile failed, see {lf.name}")
        with open(cp_file, "w") as f:
            f.write(lines[-1])
        log("compiling finbench/src against it")
        r = subprocess.run(["java", "-Xss8m", "-cp", lines[-1], "scala.tools.nsc.Main",
                            "-usejavacp", "-deprecation", "-d", os.path.join(out, "classes")]
                           + sorted(glob.glob(os.path.join(HERE, "src", "*.scala"))),
                           cwd=root, stdout=lf, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        if r.returncode != 0:
            die(f"compiling finbench/src failed, see {lf.name}")
    with open(stamp, "w") as f:
        f.write(digest)


def inputs(root, seed):
    base = os.path.join(root, ".bench_data")
    d = os.path.join(base, f"seed_{seed}")
    if not os.path.isdir(d):
        os.makedirs(base, exist_ok=True)
        shutil.rmtree(d + ".tmp", ignore_errors=True)
        gen.generate(seed, d)
    os.utime(d)
    old = sorted((p for p in glob.glob(os.path.join(base, "seed_*")) if not p.endswith(".tmp")),
                 key=os.path.getmtime)
    for p in old[:-KEEP_SEEDS]:
        shutil.rmtree(p, ignore_errors=True)
    return d


def fresh_run_dir(root):
    """Empty staging, output and replay directories of this run's own; also
    removes whatever a killed run left (graft_replay_* trees included)."""
    run = os.path.join(root, ".bench_run")
    shutil.rmtree(run, ignore_errors=True)
    for sub in ("replay", "tmp", "spark-local"):
        os.makedirs(os.path.join(run, sub))
    free = shutil.disk_usage(run).free
    if free < MIN_FREE_BYTES:
        shutil.rmtree(run, ignore_errors=True)
        die(f"refusing to start: {free >> 20} MiB free under {run} (replay scratch root), "
            f"need {MIN_FREE_BYTES >> 20} MiB")
    return run


def launch(root, run, data, a):
    threads = min(MASTER_THREADS, len(os.sched_getaffinity(0)))
    with open(os.path.join(root, ".bench_build", "classpath")) as f:
        cp = os.pathsep.join([os.path.join(root, ".bench_build", "classes"), f.read()])
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"] + JIT
           + ["-XX:-UsePerfData", "-Duser.timezone=UTC",
              f"-Djava.io.tmpdir={run}/tmp", f"-Dgraft.replay.tmpdir={run}/replay"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "finbench.Main", "--workload", a.workload, "--data", data,
              "--run", run, "--master", f"local[{threads}]", "--seconds", str(a.seconds),
              "--trace", str(a.trace)])
    with open(os.path.join(run, "jvm.log"), "w") as lf:
        p = subprocess.Popen(cmd, cwd=root, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)

        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            shutil.rmtree(run, ignore_errors=True)
            sys.exit(128 + signum)

        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = None
        signal.signal(signal.SIGTERM, signal.SIG_DFL)
        signal.signal(signal.SIGINT, signal.SIG_DFL)
    res = os.path.join(run, "jvm_result.json")
    if rc != 0 or not os.path.exists(res):
        with open(os.path.join(run, "jvm.log")) as f:
            tail = f.read()[-4000:]
        log(tail)
        die(f"benchmark JVM {'timed out' if rc is None else f'exited with {rc}'}")
    with open(res) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main"))):
        die(f"{root} holds no program sources (build.sbt, src/main): run from a checkout root")

    build(root)
    data = inputs(root, a.seed)
    run = fresh_run_dir(root)
    try:
        t0 = time.monotonic()
        r = launch(root, run, data, a)
        t1 = time.monotonic()
        failed, checks_ran, notes = check.check(a.workload, run, data, r)
        log(f"JVM {t1 - t0:.1f} s, checks {time.monotonic() - t1:.1f} s")
        for n in r["errors"] + notes:
            log(n)
        if a.trace:
            metrics = {k: {"value": r["layers"].get(k, 0.0), "unit": check.layer_unit(k)}
                       for k in PER_LAYER}
            tdir = os.path.join(root, ".bench_traces")
            os.makedirs(tdir, exist_ok=True)
            dest = os.path.join(tdir, f"{a.workload}-seed{a.seed}.json")
            shutil.copyfile(os.path.join(run, "trace.json"), dest)
            log(f"trace written to {os.path.relpath(dest, root)} "
                f"(traced run_s {r['metrics']['run_s']:.3f})")
        else:
            metrics = {k: {"value": r["metrics"][k], "unit": u}
                       for k, u in {**END_TO_END, **TAIL.get(a.workload, {})}.items()}
        # correct: the checks ran and found no wrong output; operations that
        # threw count in failed only, wrong outputs in both
        out = {"correct": checks_ran and failed == 0, "attempted": int(r["attempted"]),
               "failed": int(min(r["attempted"], r["failed"] + failed)), "metrics": metrics}
    finally:
        shutil.rmtree(run, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
