#!/usr/bin/env python3
"""Benchmark driver: builds the engine and the benchmark from source, runs
one workload in one JVM and prints its result line last.

    python3 perfbench/run.py --workload cube --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke          # tiny sizes, every metric and check
    python3 perfbench/run.py --record-fingerprints   # rewrite data/fingerprints.tsv
    python3 perfbench/run.py --probe          # host-speed probe, in ms

Run from the repository root. The build is cached under perfbench/target
and redone when any source or build file changes.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_DIR = os.path.join(BENCH, "target", "perfbench-build")
WORK = os.path.join(BENCH, ".work")
DATA = os.path.join(BENCH, "data")
HEAP = "3g"  # fixed driver heap (-Xms = -Xmx), recorded in every run's env line
WORKLOADS = ("cube", "query_mix")
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 850

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, cwd, env, timeout):
    """Runs cmd in its own process group, captures its stdout and waits for
    it; kills the group on timeout, or when this script is told to stop."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                         stdout=subprocess.PIPE,
                         stderr=sys.stderr, text=True)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None, None
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_DFL)
        signal.signal(signal.SIGINT, signal.SIG_DFL)


def build():
    """Compiles engine + benchmark with sbt (offline); returns the classpath."""
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    cp_file = os.path.join(BUILD_DIR, "classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building engine and benchmark (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(BENCH, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx3g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        BENCH, env, BUILD_TIMEOUT_S)
    if code != 0:
        log(f"build failed (exit {code})")
        if out:
            sys.stderr.write(out[-4000:])
        sys.exit(3)
    cp = [l for l in out.splitlines()
          if not l.startswith("[") and os.pathsep in l and ".jar" in l]
    if not cp:
        log("could not find the classpath in sbt output")
        sys.exit(3)
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1].strip()


def java_cmd(cp, main, args, work):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData", *opens,
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", cp, main] + args)


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--record-fingerprints", action="store_true")
    ap.add_argument("--probe", action="store_true")
    a = ap.parse_args()
    if not (a.workload or a.smoke or a.record_fingerprints or a.probe):
        ap.error("--workload, --smoke, --record-fingerprints or --probe is required")
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        log(f"engine sources not found under {ENGINE_SRC}; run from a full checkout")
        sys.exit(2)
    if not os.path.isdir(DATA):
        log(f"query tables not found under {DATA}")
        sys.exit(2)
    cp = build()

    work = os.path.join(WORK, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    common = ["--work", work, "--cpus", str(cpus()), "--data", DATA]
    if a.probe:
        main_cls, args = "perfbench.Probe", []
    elif a.smoke:
        main_cls, args = "perfbench.Smoke", common + ["--benchmark-json", os.path.join(ROOT, "BENCHMARK.json")]
    elif a.record_fingerprints:
        main_cls, args = "perfbench.Main", common + [
            "--workload", "record_fingerprints", "--seed", "0", "--seconds", "0",
            "--trace", "0", "--out", os.path.join(DATA, "fingerprints.tsv")]
    else:
        main_cls, args = "perfbench.Main", common + [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace)]
    code, out = run_bounded(java_cmd(cp, main_cls, args, work), work, dict(os.environ),
                            RUN_TIMEOUT_S)
    traces = os.path.join(WORK, "traces")
    if os.path.isdir(work):
        for f in os.listdir(work):
            if f.startswith("trace-"):
                os.makedirs(traces, exist_ok=True)
                shutil.move(os.path.join(work, f), os.path.join(traces, f))
    shutil.rmtree(work, ignore_errors=True)
    if code is None:
        log("run timed out")
        sys.exit(4)
    lines = (out or "").splitlines()
    result = [l for l in lines if l.startswith('{"correct"')]
    for l in lines:
        if not l.startswith('{"correct"'):
            print(l)
    if a.smoke or a.record_fingerprints or a.probe:
        sys.exit(code)
    if code != 0 or not result:
        log(f"no result line (exit {code})")
        sys.exit(1)
    r = json.loads(result[-1])
    assert set(r) == {"correct", "attempted", "failed", "metrics"}, r.keys()
    print(result[-1], flush=True)


if __name__ == "__main__":
    main()
