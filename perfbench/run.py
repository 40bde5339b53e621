#!/usr/bin/env python3
"""Run one benchmark workload from the root of a checkout.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 8 --trace 0

Builds the benchmark (the program's sources plus perfbench/src) with sbt
when the sources changed since the last build, then runs perfbench.Main in
one JVM. Everything the run writes stays under perfbench/work and
perfbench/target. The last stdout line is the result JSON.
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

WORKLOADS = ("etl_daily", "analyst_mix", "corpus_prep")
RUN_LIMIT_S = 170  # the run must end within 180 s; keep a margin for teardown
BUILD_LIMIT_S = 850

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
WORK = os.path.join(BENCH, "work")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
STAMP = os.path.join(BENCH, "target", "perfbench.stamp")


def spark_home():
    """The Spark installation the program builds against: $SPARK_HOME, else
    the first spark-submit on the PATH that sits in a distribution with jars."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        exe = os.path.join(d, "spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(exe)))
        if os.path.isfile(exe) and glob.glob(os.path.join(home, "jars", "spark-sql_*.jar")):
            return home
    return ""


SPARK_HOME = spark_home()

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    files = []
    for top in ("src/main", "perfbench/src/main"):
        for dirpath, _, names in os.walk(os.path.join(ROOT, top)):
            files += [os.path.join(dirpath, n) for n in names]
    files += [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, cwd, env, limit, stdout):
    """Runs cmd in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=subprocess.STDOUT
                         if stdout is not subprocess.PIPE else sys.stderr,
                         start_new_session=True, text=True)
    try:
        out, _ = p.communicate(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} exceeded {limit} s")
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)  # stray children of the group
        except ProcessLookupError:
            pass
    return p.returncode, out


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("program sources (src/main/scala) not found; run from the root of a checkout")
    if shutil.which("sbt") is None:
        fail("sbt not found")
    if not glob.glob(os.path.join(SPARK_HOME, "jars", "spark-sql_*.jar")):
        fail("no Spark installation with jars: set SPARK_HOME")
    digest = sources_digest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest and os.path.isdir(CLASSES):
        return
    # sbt's own temporary files stay in the build directory. Its load socket
    # goes under XDG_RUNTIME_DIR, given relative to sbt's working directory:
    # a unix socket path must fit in 108 bytes, which an absolute path in a
    # deep checkout does not.
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=SPARK_HOME,
               XDG_RUNTIME_DIR=os.path.join("target", "sbt-run"))
    os.makedirs(os.path.join(BENCH, "target", "sbt-run"), exist_ok=True)
    sbt_tmp = os.path.join(BENCH, "target", "sbt-tmp")
    os.makedirs(sbt_tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false",
            f"-Djava.io.tmpdir={sbt_tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BENCH, "target", "build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as fh:
        code, _ = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "Compile / products"],
                              BENCH, env, BUILD_LIMIT_S, fh)
    if code != 0:
        fail(f"build failed (exit {code}); see {os.path.relpath(log, ROOT)}")
    with open(STAMP, "w") as fh:
        fh.write(digest)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")

    build()
    started = time.time()
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    jars = sorted(glob.glob(os.path.join(SPARK_HOME, "jars", "*.jar")))
    if not jars:
        fail(f"no Spark jars under {SPARK_HOME}/jars")
    # The JVM, and so Spark's local[N], sees half the cores: the rest absorb
    # the JIT, GC and driver threads, and a shared host's stolen time, which
    # otherwise stall a stage's slowest task and spread the timings.
    cpus = max(1, len(os.sched_getaffinity(0)) // 2)
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", f"-XX:ActiveProcessorCount={cpus}",
           f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC",
           "-Dspark.ui.enabled=false", "-Dlog4j2.level=error"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([CLASSES] + jars), "perfbench.Main",
            a.workload, str(a.seed), str(a.seconds), a.trace, WORK]
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep both in the checkout
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"))
    code, out = run_bounded(cmd, ROOT, env, RUN_LIMIT_S - (time.time() - started), subprocess.PIPE)
    lines = out.strip().splitlines()
    if code != 0 or not lines:
        fail(f"benchmark exited with {code}")
    try:
        result = json.loads(lines[-1])
    except ValueError:
        fail("no result line")
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
