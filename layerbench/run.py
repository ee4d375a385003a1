#!/usr/bin/env python3
"""Layer benchmark entry point.

    python3 layerbench/run.py --workload pipeline|join_sql --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt into .bench_build/ (later runs reuse the
build until a source file changes), then starts one benchmark JVM at
local[4]. The last line of standard output is one JSON object with the
keys correct, attempted, failed and metrics. With --trace 0 the metrics
are the end-to-end ones (this script adds peak_rss_mb, the JVM's peak
resident set); with --trace 1 they are the per-layer ones, and the spans
and per-stage task metrics go to .bench_build/traces/.
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

BENCH_DIR = "layerbench"
BUILD_DIR = ".bench_build"
ENGINE_SRC = os.path.join("src", "main", "scala", "graft")
JVM_TIMEOUT_S = 170
# A fixed heap and young generation keep the peak resident set from
# following the collector's sizing decisions.
JVM_FLAGS = ["-Xms2g", "-Xmx2g", "-Xmn768m"]
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"layerbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return home


def source_stamp():
    """Digest of every input of the build: paths, sizes and mtimes."""
    h = hashlib.sha256()
    roots = [os.path.join("src", "main", "scala"), os.path.join(BENCH_DIR, "src", "main"),
             os.path.join(BENCH_DIR, "build.sbt"), os.path.join(BENCH_DIR, "project", "build.properties")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(env):
    """Compile with sbt unless the last build saw the same sources.
    Returns the run-time class path."""
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    cp_file = os.path.join(BUILD_DIR, "target", "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as c:
                    return c.read()
    os.makedirs(BUILD_DIR, exist_ok=True)
    sbt_env = dict(env, COURSIER_MODE="offline",
                   SBT_OPTS=(env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip())
    log_path = os.path.join(BUILD_DIR, "build.log")
    with open(log_path, "w") as log:
        rc = subprocess.call(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                             cwd=BENCH_DIR, env=sbt_env, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(cp_file):
        with open(log_path) as log:
            sys.stderr.write(log.read()[-4000:])
        fail(f"build failed (sbt exit {rc}); log in {log_path}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as c:
        return c.read()


def run_jvm(classpath, args, env):
    """Run the benchmark JVM; return (its stdout lines, peak RSS in MiB)."""
    tmp = os.path.abspath(os.path.join(BUILD_DIR, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        *JVM_FLAGS, f"-Djava.io.tmpdir={tmp}",
        "-Dlog4j2.configurationFile=" + os.path.abspath(os.path.join(BENCH_DIR, "log4j2.properties")), "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", "-cp", classpath, "layerbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace)]
    out_path = os.path.join(tmp, f"stdout-{os.getpid()}.txt")
    with open(out_path, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stdin=subprocess.DEVNULL, env=env)
        deadline = time.monotonic() + JVM_TIMEOUT_S
        status, usage = None, None
        while status is None:
            pid, st, ru = os.wait4(proc.pid, os.WNOHANG)
            if pid == proc.pid:
                status, usage = st, ru
            elif time.monotonic() > deadline:
                proc.send_signal(signal.SIGKILL)
                os.wait4(proc.pid, 0)
                shutil.rmtree(os.path.join(BUILD_DIR, "work"), ignore_errors=True)
                fail(f"benchmark JVM exceeded {JVM_TIMEOUT_S}s")
            else:
                time.sleep(0.05)
        proc.returncode = os.waitstatus_to_exitcode(status)
    with open(out_path) as f:
        lines = f.read().splitlines()
    os.remove(out_path)
    if proc.returncode != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"benchmark JVM exited with {proc.returncode}")
    return lines, usage.ru_maxrss / 1024.0  # ru_maxrss is in KiB on Linux


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["pipeline", "join_sql"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isdir(ENGINE_SRC) or not os.path.isdir(os.path.join(BENCH_DIR, "src")):
        fail(f"run from the root of a checkout: {ENGINE_SRC} or {BENCH_DIR}/src is missing")
    env = dict(os.environ, SPARK_HOME=spark_home())
    classpath = build(env)
    lines, rss_mb = run_jvm(classpath, args, env)
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        fail("the benchmark JVM printed no result line")
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result keys {sorted(result)}")
    if args.trace == 0:
        result["metrics"]["peak_rss_mb"] = {"value": rss_mb, "unit": "MB"}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
