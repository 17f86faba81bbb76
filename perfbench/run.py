#!/usr/bin/env python3
"""Run one workload of the graft benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. The first run builds the engine and the
harness from source with sbt (offline) and writes the run-time classpath
to perfbench/target/classpath.txt; later runs rebuild only when a source
or build file is newer than that file. The harness itself runs on plain
`java`, so sbt start-up is never part of a measurement.

The harness prints a human-readable report and, as its last line, one
JSON object with `correct`, `attempted`, `failed` and `metrics`. The exit
code is 0 only when every output check passed.

Harness-only options: --scale <f> shrinks or grows every input (tests use
a tiny scale), --fault <name> deliberately corrupts one output so a test
can show that the workload's check catches it.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
CLASSPATH = os.path.join(BENCH, "target", "classpath.txt")
WORKLOADS = ("medallion_refresh", "table_dml", "curation")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 outside spark-submit needs these module openings
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def newest_mtime(paths):
    newest = 0.0
    for p in paths:
        if os.path.isfile(p):
            newest = max(newest, os.path.getmtime(p))
        for d, dirs, files in os.walk(p):
            dirs[:] = [x for x in dirs if x not in ("target", ".work", ".out")]
            for f in files:
                if f.endswith((".scala", ".java", ".sbt", ".properties")):
                    newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    sources = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
               os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "build.sbt"),
               os.path.join(BENCH, "project"), os.path.join(BENCH, "src")]
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest_mtime(sources):
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    # the build log goes to stderr: stdout must end with the result line
    proc = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                            cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    if wait_or_kill(proc, BUILD_TIMEOUT_S) != 0 or not os.path.exists(CLASSPATH):
        fail("build failed or timed out")


def wait_or_kill(proc, timeout):
    """The exit code of `proc`, or None after killing its whole process
    group (sbt and Spark start children of their own) on timeout."""
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None


def java_cmd(work, main_class, args):
    """The JVM command for one of the harness's main classes; `work` is the
    run's scratch directory inside the checkout (temp files included)."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    return (["java", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={work}/tmp",
             "-Dspark.sql.session.timeZone=UTC"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", cp, main_class] + args)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--fault", default=None)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft sources next to the benchmark in {ROOT}; "
             "run it from a full checkout of the repository")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt must be on PATH")
    build()

    work = os.path.join(BENCH, ".work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    cmd = java_cmd(work, "perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--scale", str(a.scale), "--work", work,
        "--out", os.path.join(BENCH, ".out")] + (["--fault", a.fault] if a.fault else []))
    try:
        code = wait_or_kill(subprocess.Popen(cmd, cwd=ROOT, start_new_session=True),
                            RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code is None:
        fail("run timed out")
    sys.exit(code)


if __name__ == "__main__":
    main()
