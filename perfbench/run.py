#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <harvest|index_refresh> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  The first run in a checkout builds the
program and the benchmark package (sbt, offline) into ``.bench_build``;
later runs reuse the build while the sources are unchanged.  Each run
then generates its inputs from the seed, starts one fresh JVM on the
compiled classpath with a fixed heap and its own temp, warehouse and
Spark local directories, times a window of whole rounds about
``--seconds`` long after the warm-up, checks the outputs against
DuckDB and plain-Python computations, removes its run directory and
prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` they are the per-layer metrics, taken
with the benchmark's own Spark listeners attached (0 for a layer the
workload does not reach).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

WORKLOADS = ("harvest", "index_refresh")
HEAP = "3g"
JVM_DEADLINE_S = 165
# the same module openings Spark's launcher adds on JDK 17
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
# The timed window is a fixed number of whole rounds, round(seconds /
# ROUND_S), ROUND_S being the wall of one warm round on the 4-core
# reference host: every run then times the same ops, whatever the speed
# of the host or the program.  index_refresh holds at most 2 timed
# rounds: with its warm-up round that is 6 appends, and the 6 slots of
# an append batch and a probe slice plus the final probe take 7 of the 8
# slots the 5,000 fixture documents hold past the base.
ROUND_S = {"harvest": 6.5, "index_refresh": 10.0}
MAX_ROUNDS = {"index_refresh": 2}
# index workload layout, as IndexRefresh.scala reads it
N_BASE_DOCS, N_BASE_VECS = 2000, 400


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def digest():
    """Hash of every source the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile program + benchmark once per source state; returns the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("program sources (src/main/scala) not found next to perfbench/")
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath.txt")
    want = digest()
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == want:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", "")] + opts).strip()
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                              "export Runtime/fullClasspath"],
                             cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    lines = open(log).read().splitlines()
    cp = next((l for l in reversed(lines) if ".jar" in l and not l.startswith("[")), None)
    if rc != 0 or cp is None:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (sbt exit {rc}); log in {log}")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(want)
    return cp


def generate(workload, seed, data):
    import gen
    os.makedirs(data)
    if workload == "harvest":
        gen.offres(seed, f"{data}/offres.jsonl")
    else:
        gen.index_docs(seed, f"{data}/index_docs.parquet", N_BASE_DOCS)
        gen.index_vecs(seed, f"{data}/index_vecs.parquet")


def timed_rounds(workload, seconds):
    n = max(1, round(seconds / ROUND_S[workload]))
    return min(n, MAX_ROUNDS.get(workload, n))


def run_jvm(cp, args, run_dir, data, deadline):
    out = os.path.join(run_dir, "out")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(out)
    os.makedirs(tmp)
    # One core is left to the JIT compiler and GC threads: with Spark on
    # every core, run-to-run spread of op times was 2-3x wider (README).
    cores = max(1, min(4, (os.cpu_count() or 1) - 1))
    # Fixed heap with the throughput collector (no concurrent GC threads);
    # no hsperfdata file outside the run directory.  The stub API is an
    # in-process com.sun.net.httpserver: without TCP_NODELAY every request
    # waits ~40 ms for a delayed ACK, which would make harvest measure TCP
    # timers instead of paging, planning and writes (CHANGES.md, FOUND).
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           *ADD_OPENS, f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
           "-Dspark.ui.enabled=false", "-Dsun.net.httpserver.nodelay=true",
           "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--rounds", str(timed_rounds(args.workload, args.seconds)), "--trace", str(args.trace),
           "--data", data, "--out", out, "--cores", str(cores)]
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, cwd=run_dir)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # also when this process is told to stop
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        fail(f"benchmark JVM ended with {rc}")
    with open(os.path.join(out, "run.json")) as f:
        return json.load(f)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def end_to_end(run, setup_s):
    timed = [o for o in run["ops"] if o["phase"] == "timed" and not o["failed"]]
    walls = {}
    for o in timed:
        walls.setdefault(o["kind"], []).append(o["wall_ms"])
    w = run["workload"]
    if w == "harvest":
        full = [o for o in timed if o["kind"] == "full"]
        rate = sum(o["info"]["collected"] for o in full) / (sum(o["wall_ms"] for o in full) / 1e3)
        primary, secondary = walls["full"], walls["filtered"]
    else:
        rate = len(timed) / (sum(o["wall_ms"] for o in timed) / 1e3)
        primary, secondary = walls["append"], walls["lookup"]
    return {"setup_s": setup_s, "throughput_per_s": rate,
            "primary_p50_ms": median(primary), "secondary_p50_ms": median(secondary),
            "rss_peak_mb": run["rss_peak_mb"]}


def check(run, data):
    import check as chk
    w = run["workload"]
    if w == "harvest":
        # the csv-tech normalization is t01's oracle chain; the JVM hands it over
        return chk.check_harvest(run, data, run["checks"]["t01_sql"])
    return chk.check_index_refresh(run, data, N_BASE_DOCS, N_BASE_VECS)


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp = build()

    runs = os.path.join(BUILD, "runs")
    shutil.rmtree(runs, ignore_errors=True)  # left by a killed earlier run
    run_dir = os.path.join(runs, f"{args.workload}-{args.seed}-{os.getpid()}")
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(3))
    try:
        t0 = time.time()
        data = os.path.join(run_dir, "data")
        generate(args.workload, args.seed, data)
        t1 = time.time()
        run = run_jvm(cp, args, run_dir, data, t0 + JVM_DEADLINE_S)
        t2 = time.time()
        # from the JVM's launch: input generation is the benchmark's own
        setup_s = run["setup_end_ms"] / 1e3 - t1
        problems = check(run, data)
        print(f"perfbench: inputs {t1 - t0:.1f}s, jvm {t2 - t1:.1f}s, checks {time.time() - t2:.1f}s",
              file=sys.stderr)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    timed = [o for o in run["ops"] if o["phase"] == "timed"]
    kinds = {}
    for o in timed:
        k = kinds.setdefault(o["kind"], {"attempted": 0, "failed": 0, "p50_ms": []})
        k["attempted"] += 1
        k["failed"] += int(o["failed"])
        k["p50_ms"].append(o["wall_ms"])
    for k in kinds.values():
        k["p50_ms"] = round(median(k["p50_ms"]), 3)
    for msg in problems:
        print(f"CHECK FAILED: {msg}", file=sys.stderr)
    e2e = end_to_end(run, setup_s)
    print(json.dumps({"workload": args.workload, "seed": args.seed, "cores": run["cores"],
                      "end_to_end": e2e,
                      "timed_rounds": run["timed_rounds"], "window_s": round(run["window_s"], 3),
                      "warmup_ops": sum(1 for o in run["ops"] if o["phase"] == "warmup"),
                      "kinds": kinds,
                      "ops": [[o["phase"], o["kind"], o["round"], round(o["wall_ms"], 3), o["name"]]
                              for o in run["ops"]]}))
    if args.trace:
        layers = run["layers"]
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": not problems, "attempted": len(timed),
                      "failed": sum(int(o["failed"]) for o in timed), "metrics": metrics}))


if __name__ == "__main__":
    main()
