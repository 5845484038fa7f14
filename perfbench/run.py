#!/usr/bin/env python3
"""Run one graft benchmark workload from the root of a graft checkout.

    python3 perfbench/run.py --workload governed_read --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py --self-test

The first run builds graft and the harness from source with sbt (the
`perfbench` sbt project depends on the checkout's own graft build) and
caches the classpath under the build directory
(`$CARGO_TARGET_DIR`, default `.bench_build`). Every run then starts one
JVM, prints a detailed `{"report": ...}` line and, as its last line, the
result object `{"correct", "attempted", "failed", "metrics"}`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
WORKLOADS = ("governed_read", "lake_dml", "corpus_pipeline")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
# Spark 4 on JDK 17 outside spark-submit needs these (graft's build.sbt
# passes the same list).
OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the whole group on timeout
    or when this script is interrupted or terminated."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(128 + signum)

    handlers = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"{cmd[0]} did not finish within {timeout} s", 3)
    finally:
        for s, h in handlers.items():
            signal.signal(s, h)
    return proc.returncode, out, err


def classpath():
    """The runtime classpath, building first when the sources changed."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from the root of a graft checkout: build.sbt and src/main/scala/graft "
             "are missing here")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            cached_stamp, cp = f.read().split("\n", 1)
        if cached_stamp == stamp:
            return cp.strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    code, out, _ = run_group(
        ["sbt", "-batch", "-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
         "-Dsbt.server.forcestart=false", "-Dsbt.log.noformat=true",
         "compile", "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True)
    with open(os.path.join(BUILD, "build.log"), "w") as f:
        f.write(out)
    lines = [l for l in out.splitlines() if "scala-2.13" in l and os.pathsep in l
             and not l.startswith("[")]
    if code != 0 or not lines:
        sys.stderr.write(out[-4000:])
        fail("build failed", 4)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp)
    return cp


def java(cp, main, args, work, log_name):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [a for p in OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "-cp", cp, main] + args
    log_dir = os.path.join(BUILD, "logs")
    os.makedirs(log_dir, exist_ok=True)
    log_path = os.path.join(log_dir, log_name)
    with open(log_path, "w") as log:
        code, out, _ = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE,
                                 stderr=log, text=True)
    return code, out, log_path


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="check the benchmark's arithmetic on synthetic inputs")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")

    cp = classpath()
    work = os.path.join(BUILD, "work", f"{a.workload or 'selftest'}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        if a.self_test:
            code, out, log_path = java(cp, "graftbench.SelfTest", [], work, "selftest.log")
            sys.stdout.write(out)
            sys.exit(code)
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work,
                "--out", os.path.join(BUILD, "traces")]
        code, out, log_path = java(cp, "graftbench.Main", args, work,
                                   f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    result = None
    for l in lines:
        obj = json.loads(l)
        if "report" in obj:
            print(l)
        elif "correct" in obj:
            result = l
    if code != 0 or result is None:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"benchmark run failed (exit {code}); log: {log_path}", 5)
    print(result)


if __name__ == "__main__":
    main()
