#!/usr/bin/env python3
"""KG-construction benchmark: one run of one workload.

    python3 kgbench/run.py --workload stages|topic --seed N \
        --seconds S --trace 0|1

Run from the repository root. The first run builds the program and the
benchmark with sbt (kgbench/build.sbt, which builds the root project
from source); later runs reuse the build while no source changed. A run
makes its seeded inputs in one JVM, then measures in a second, both at
local[<cores>] with the program's own JVM flags. Its last stdout line is
one JSON object: correct, attempted, failed and metrics, the end-to-end
metrics of BENCHMARK.json with --trace 0 and its per-layer metrics with
--trace 1. See kgbench/README.md.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
FIXTURES = os.path.join(HERE, ".fixtures")
RUN_FILE = os.path.join(HERE, "target", "run.txt")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170  # both JVMs of a run, build excluded
KEEP_FIXTURES = 64


def fail(msg):
    print(f"kgbench: {msg}", file=sys.stderr)
    sys.exit(2)


def driver_mem():
    """Half the host memory, 2g to 8g: the heap the repo's tests use."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def fingerprint(mem):
    h = hashlib.sha256(mem.encode())
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(d, f) for r in roots for d, _, fs in os.walk(r) for f in fs]
    files += [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for path in sorted(files):
        h.update(path.encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(env):
    """Compile once per source state; returns (classpath, JVM flags)."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"program source {need} not found next to {HERE}")
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = fingerprint(env["SPARK_DRIVER_MEM"])
        stamp_file = RUN_FILE + ".stamp"
        fresh = os.path.exists(RUN_FILE) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp
        if not fresh:
            repos = os.path.expanduser("~/.sbt/repositories")
            sbt_env = dict(env, COURSIER_MODE="offline")
            sbt_env.setdefault("SBT_OPTS", " ".join(
                ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
                * os.path.exists(repos) + ["-Dsbt.offline=true", "-Xmx2g"]))
            proc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "exportRun"],
                cwd=HERE, env=sbt_env, stdout=sys.stderr, stdin=subprocess.DEVNULL,
                timeout=BUILD_TIMEOUT_S)
            if proc.returncode != 0 or not os.path.exists(RUN_FILE):
                fail("build failed")
            with open(stamp_file, "w") as f:
                f.write(stamp)
    with open(RUN_FILE) as f:
        lines = f.read().splitlines()
    return lines[0], lines[1:]


def prune_fixtures():
    """Keep the most recently used fixture entries only."""
    if not os.path.isdir(FIXTURES):
        return
    entries = sorted((os.path.join(FIXTURES, d) for d in os.listdir(FIXTURES)),
                     key=os.path.getmtime, reverse=True)
    for old in entries[KEEP_FIXTURES:]:
        shutil.rmtree(old, ignore_errors=True)


def run_jvm(cmd, env, cwd, deadline):
    proc = subprocess.Popen(cmd, env=env, cwd=cwd, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    lines = [line for line in out.splitlines() if line.strip()]
    sys.stderr.write("".join(line + "\n" for line in lines[:-1]))
    if proc.returncode != 0 or not lines:
        fail(f"benchmark JVM exited with code {proc.returncode}")
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_file):
        fail("BENCHMARK.json not found")
    with open(bench_file) as f:
        bench = json.load(f)
    if args.workload not in [w["name"] for w in bench["workloads"]]:
        fail(f"unknown workload {args.workload}")

    cores = len(os.sched_getaffinity(0))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores), SPARK_DRIVER_MEM=driver_mem())
    classpath, jvm_flags = build(env)
    prune_fixtures()

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    jvm = ["java", *jvm_flags,
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           f"-Dspark.local.dir={os.path.join(run_dir, 'spark-local')}",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"]
    run_args = ["kgbench.Run", "--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--cores", str(cores), "--home", HERE, "--work", run_dir]
    deadline = time.time() + RUN_TIMEOUT_S
    try:
        # inputs first, in a JVM of their own: the measured JVM then starts
        # equally cold whether or not they were cached
        gen_s = run_jvm([*jvm, "-cp", classpath, *run_args, "--prepare", "1"], env, run_dir, deadline)
        listener = ["-Dspark.extraListeners=kgbench.Tracer"] if args.trace else []
        raw = run_jvm([*jvm, *listener, "-cp", classpath, *run_args,
                       "--gen-s", str(gen_s), "--launched-ms", str(int(time.time() * 1000))],
                      env, run_dir, deadline)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    wanted = bench["per_layer" if args.trace else "end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in raw["metrics"]]
    if missing:
        fail(f"run did not report {missing}")
    raw["metrics"] = {m["name"]: {"value": raw["metrics"][m["name"]], "unit": m["unit"]}
                      for m in wanted}
    print(json.dumps(raw))


if __name__ == "__main__":
    main()
