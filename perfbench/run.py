#!/usr/bin/env python3
"""Runs one benchmark run of the library warehouse engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run builds the program and
the harness with sbt (perfbench/build.sbt depends on the repository's own
build) into .bench_build/; later runs reuse that build while the sources
are unchanged. Each run starts a fresh JVM with its own scratch directory
under .bench_build/runs/ (artifact root, store, warehouse, Spark local
dirs, temp files), which is removed when the run ends.

The last line of standard output is the run's result object:
{"correct": …, "attempted": …, "failed": …, "metrics": {…}}. The exit
code is 0 only when every output check passed.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
LAUNCH = os.path.join(BUILD, "perfbench-target", "launch.txt")
STAMP = os.path.join(BUILD, "perfbench-target", "sources.sha256")
WORKLOADS = ("refresh_and_report", "operator_surface")
# a run must end within 180 s, or 900 s when it has to build first; the
# JVM is killed a little before that, and the run then fails
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 890
# driver heap, through the program's own setting (its build reads
# SPARK_DRIVER_MEM into -Xmx, 8g when unset): at 8g a refresh_and_report
# run grows to about 7 GB resident, more than a shared 15 GB host should give
DRIVER_MEM = "4g"
# the heap is fixed at that size from the start: a heap that G1 grows and
# shrinks (the explicit GCs between operator keys shrink it) sizes the
# young generation differently from run to run, and the number of young
# collections with it
HEAP_OPTS = [f"-Xms{DRIVER_MEM}"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads: both builds and both source trees."""
    found = []
    for base, subs in ((ROOT, ("project", os.path.join("src", "main"))), (HERE, ("project", "src"))):
        if os.path.isfile(os.path.join(base, "build.sbt")):
            found.append(os.path.join(base, "build.sbt"))
        for sub in subs:
            top = os.path.join(base, sub)
            for d, dirs, files in os.walk(top):
                dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
                found += [os.path.join(d, f) for f in sorted(files)
                          if sub != "project" or f.endswith((".scala", ".sbt", ".properties"))]
    return found


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Builds with sbt unless the last build saw the same sources; returns
    whether it built."""
    fp = fingerprint(sources()) + "-" + DRIVER_MEM
    if os.path.isfile(LAUNCH) and os.path.isfile(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == fp:
                return False
    log("building the program and the harness with sbt")
    t0 = time.monotonic()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "benchLaunch"],
        cwd=HERE, env=dict(os.environ, SPARK_DRIVER_MEM=DRIVER_MEM), stdin=subprocess.DEVNULL,
        stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_LIMIT_S - 60)
    if proc.returncode != 0 or not os.path.isfile(LAUNCH):
        raise SystemExit(f"sbt build failed (exit {proc.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(fp)
    log(f"built in {time.monotonic() - t0:.1f} s")
    return True


def run_jvm(args, deadline):
    with open(LAUNCH) as fh:
        lines = fh.read().splitlines()
    classpath, jvm_opts = lines[0], [x for x in lines[1:] if x]
    cores = len(os.sched_getaffinity(0))
    scratch = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(os.path.join(scratch, "tmp"))
    out = os.path.join(scratch, "result.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-cp", classpath] + jvm_opts + HEAP_OPTS + [
        f"-Djava.io.tmpdir={scratch}/tmp", "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--scratch", scratch, "--cores", str(cores), "--out", out]
    env = dict(os.environ, GRAFT_ARTIFACT_ROOT=os.path.join(scratch, "artifacts"))
    try:
        proc = subprocess.Popen(cmd, cwd=scratch, env=env, stdin=subprocess.DEVNULL,
                                stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            raise SystemExit("run exceeded its time limit")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
        if code != 0 or not os.path.isfile(out):
            raise SystemExit(f"benchmark JVM failed (exit {code})")
        with open(out) as fh:
            return fh.read().strip()
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def terminate(signum, frame):
    # unwinds through run_jvm's cleanup, which kills the JVM's process group
    raise SystemExit(f"stopped by signal {signum}")


def main():
    signal.signal(signal.SIGTERM, terminate)
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    t0 = time.monotonic()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit(f"{ROOT} holds no program to build (build.sbt, src/main/scala)")
    built = build()
    result = run_jvm(args, t0 + (BUILD_LIMIT_S if built else RUN_LIMIT_S))
    print(result, flush=True)
    if '"correct": true' not in result:
        raise SystemExit("an output check failed")


if __name__ == "__main__":
    main()
