#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Builds the harness (perfbench/build.sbt,
which depends on the program's own build) on first use, generates the
workload's inputs from the seed, runs the JVM harness (perfbench.Main),
checks the outputs in DuckDB, and prints one JSON object as the last
line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. Exits non-zero on any failure.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing behind in the benchmark's directory

import check  # noqa: E402
import gen  # noqa: E402

ROOT = os.getcwd()
SPEC = os.path.join(ROOT, "BENCHMARK.json")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "perfbench-classpath.txt")
WORK_ROOT = os.path.join(ROOT, ".bench_work")
SETUP_REPS = 3
JVM_TIMEOUT_S = 150
JVM_HEAP = "2g"
# A fixed young generation: the peak-heap figure samples the heap after
# every young collection, so these must be frequent and regular.
YOUNG_GEN = "128m"

# Spark 4 on JDK 17 outside spark-submit (same list as the program's build).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def sources_newest():
    newest = 0.0
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"), os.path.join(ROOT, "build.sbt")):
        if os.path.isfile(top):
            newest = max(newest, os.path.getmtime(top))
        for d, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    """Compile the harness and the program; cache the runtime classpath."""
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= sources_newest():
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    sbt_opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    if os.path.exists(repos):
        sbt_opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(sbt_opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/compile",
           "export perfbench/Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=800)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or os.pathsep not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed", 3)
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1].strip())


def generate(workload, seed, input_dir):
    """Generate the inputs SETUP_REPS times; return (median seconds, facts)."""
    times, facts = [], {}
    for _ in range(SETUP_REPS):
        shutil.rmtree(input_dir, ignore_errors=True)
        t0 = time.perf_counter()
        facts = gen.papers(input_dir, seed) if workload == "lab2_zipf" \
            else gen.documents(input_dir, seed)
        times.append(time.perf_counter() - t0)
    return statistics.median(times), facts


def run_jvm(args, work, input_dir):
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Xmn{YOUNG_GEN}",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + ADD_OPENS + ["-cp", cp, "perfbench.Main",
                          "--workload", args.workload, "--seconds", str(args.seconds),
                          "--trace", str(args.trace), "--cores", str(len(os.sched_getaffinity(0))),
                          "--work", work, "--input", input_dir])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness timed out; see {log_path}", 4)
    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    if p.returncode != 0 or not lines:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness exited with {p.returncode}", 4)
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(SPEC):
        fail("run from the repository root: BENCHMARK.json not found")
    with open(SPEC) as f:
        spec = json.load(f)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("the program's sources (src/main/scala) are missing")
    build()

    work = os.path.join(WORK_ROOT, f"{args.workload}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    input_dir = os.path.join(work, "input")
    t0 = time.perf_counter()
    gen_s, facts = generate(args.workload, args.seed, input_dir)
    t1 = time.perf_counter()
    res = run_jvm(args, work, input_dir)
    t2 = time.perf_counter()
    n_checked, failures = check.run_checks(res["checks"], res["tables"])
    t3 = time.perf_counter()
    for msg in failures:
        print(f"[perfbench] check failed: {msg}", file=sys.stderr)
    attempted = res["attempted"]
    failed = min(attempted, res["failed"] + len(failures))
    measured = dict(res["metrics"])
    measured["setup_s"] = gen_s + res["setup_jvm_s"]
    measured["ok_frac"] = 1.0 - failed / attempted
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": measured.get(m["name"], 0.0), "unit": m["unit"]}
               for m in wanted}
    info = dict(res["info"], **facts, workload=args.workload, seed=args.seed, trace=args.trace,
                checks=n_checked, load_start=res["load_start"], load_end=res["load_end"],
                spans=res["spans"], gen_s=gen_s, gen_total_s=t1 - t0, jvm_s=t2 - t1,
                check_s=t3 - t2, raw_walls=res["raw_walls"], steal=res["steal"])
    print(json.dumps({"info": info}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
