#!/usr/bin/env python3
"""Run one benchmark workload against the warehouse engine in this checkout.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark client from source with sbt (the classpath is cached under
.bench_build/, keyed by a hash of the sources). Each run then starts a
fresh JVM whose warehouse, scratch space, java.io.tmpdir and
spark.local.dir all live under one temporary directory of its own, which
is removed on exit, failure included. The last line of standard output is
the JSON result; logs go to standard error.

--trace 1 also writes the run's spans to .bench_out/ and reports the
per-layer metrics instead of the end-to-end ones. --inject NAME feeds the
named wrong result to the workload's verifier (see prove_checks.py).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD_DIR = os.path.join(ROOT, ".bench_build")
OUT_DIR = os.path.join(ROOT, ".bench_out")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850
MAX_CORES = 4

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads: the program's and the benchmark's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def classpath():
    """The runtime classpath, building first if the sources changed."""
    missing = [p for p in ("build.sbt", os.path.join("src", "main", "scala"))
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        sys.exit(f"run.py: not at the root of a checkout (missing {missing})")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(BUILD_DIR, f"classpath-{h.hexdigest()[:16]}.txt")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            cp = fh.read().strip()
        if all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    log("building the engine and the benchmark client")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=sys.stderr, text=True, timeout=BUILD_LIMIT_S)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or ":" not in lines[-1]:
        sys.stderr.write(out.stdout)
        sys.exit(f"run.py: build failed (exit {out.returncode})")
    cp = lines[-1].strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(stamp, "w") as fh:
        fh.write(cp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def cores():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(MAX_CORES, n))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["serve", "curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--inject", default="")
    args = ap.parse_args()

    cp = classpath()
    run_root = os.path.join(BUILD_DIR, "runs",
                            f"{args.workload}-{args.seed}-{os.getpid()}")
    proc = None

    def stop(signum, _frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    try:
        os.makedirs(os.path.join(run_root, "tmp"))
        spans = ""
        if args.trace:
            os.makedirs(OUT_DIR, exist_ok=True)
            spans = os.path.join(OUT_DIR, f"spans-{args.workload}-seed{args.seed}.jsonl")
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
            if os.environ.get("JAVA_HOME") else "java"
        # the throughput collector: no concurrent marking threads competing
        # with four task threads for four cores
        cmd = [java, "-Xmx3g", "-Xss4m", "-XX:+UseParallelGC", "-Duser.timezone=UTC",
               f"-Djava.io.tmpdir={run_root}/tmp", "-Dderby.system.home=" + run_root]
        for p in ADD_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += ["-cp", cp, "perfbench.Main",
                "--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--root", run_root, "--spans", spans, "--cores", str(cores())]
        if args.inject:
            cmd += ["--inject", args.inject]
        env = dict(os.environ)
        env.pop("SPARK_LOCAL_DIRS", None)
        env["TMPDIR"] = os.path.join(run_root, "tmp")
        proc = subprocess.Popen(cmd, cwd=run_root, env=env, stdin=subprocess.DEVNULL,
                                stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
        lines = [l for l in out.splitlines() if l.strip()]
        if proc.returncode != 0 or not lines:
            sys.exit(f"run.py: benchmark JVM exited {proc.returncode}")
        result = json.loads(lines[-1])
        print(json.dumps(result), flush=True)
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_root, ignore_errors=True)


if __name__ == "__main__":
    main()
