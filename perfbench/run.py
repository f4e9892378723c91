#!/usr/bin/env python3
"""End-to-end benchmark of sodspark's shipped paths.

Run from the repository root:

    python3 perfbench/run.py --workload validate-full --seed 1 --seconds 10 --trace 0

Builds the benchmark jar (perfbench/build.sbt: the benchmark's sources plus
the program's src/main/scala) with sbt when it is missing or older than a
source. Then starts one JVM that generates the seed's fixtures if they are
not cached yet, and a second, measured JVM that runs the workload and prints
one JSON result as the last line of standard output. Fixtures, traces and
scratch space live under .bench_build/perfbench in the repository root. See
perfbench/README.md.
"""

import argparse
import fcntl
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
JAR = os.path.join(BENCH, "target", "scala-2.13", "perfbench_2.13-0.1.0.jar")
WORKLOADS = ["validate-full", "validate-resume", "ingest-ticks", "curate-chain"]
HEAP = "2g"
MANIFEST = os.path.join(ROOT, "BENCHMARK.json")

# Spark on JDK 17 needs these outside spark-submit (same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME or put spark-submit on PATH")
    return home


def newest_source_mtime():
    newest = 0.0
    for top in (os.path.join(BENCH, "src"), os.path.join(ROOT, "src", "main")):
        for dirpath, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(dirpath, f)))
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        newest = max(newest, os.path.getmtime(os.path.join(BENCH, f)))
    return newest


def build(env):
    """Builds the jar under a lock; returns True when it compiled."""
    os.makedirs(STATE, exist_ok=True)
    with open(os.path.join(STATE, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(JAR) and os.path.getmtime(JAR) >= newest_source_mtime():
            return False
        sbt = shutil.which("sbt")
        if not sbt:
            fail("sbt is not on PATH")
        benv = dict(env)
        benv.setdefault("COURSIER_MODE", "offline")
        if "SBT_OPTS" not in benv:
            opts = ["-Dsbt.offline=true", "-Xmx2g"]
            repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
            if os.path.exists(repos):
                opts += ["-Dsbt.override.build.repos=true",
                         f"-Dsbt.repository.config={repos}"]
            benv["SBT_OPTS"] = " ".join(opts)
        started = time.time()
        try:
            res = subprocess.run(
                [sbt, "--batch", "-Dsbt.log.noformat=true", "package"],
                cwd=BENCH, env=benv, stdout=sys.stderr, stderr=sys.stderr,
                stdin=subprocess.DEVNULL, timeout=700)
        except subprocess.TimeoutExpired:
            fail("build timed out", 1)
        if res.returncode != 0 or not os.path.exists(JAR):
            fail(f"build failed (sbt exit {res.returncode})", 1)
        print(f"perfbench: built {os.path.relpath(JAR, ROOT)} in "
              f"{time.time() - started:.1f} s", file=sys.stderr)
        return True


def run_jvm(cmd, env, deadline, what):
    """Runs one JVM to completion; stops it when the deadline passes."""
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"{what} ran past the time limit and was stopped", 124)
    except BaseException:
        proc.kill()
        proc.wait()
        raise
    if code != 0:
        fail(f"{what} exited with code {code}", code)


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, choices=["0", "1"])
    a = p.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the program's sources (src/main/scala/graft) are not here; "
             "run from a full checkout of the repository")
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    java = shutil.which("java", path=os.path.join(env.get("JAVA_HOME", ""), "bin")) \
        or shutil.which("java")
    if not java:
        fail("java is not on PATH")

    started = time.time()
    built = build(env)
    deadline = started + (880 if built else 175)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(STATE, d), exist_ok=True)
    jvm = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Duser.timezone=UTC",
           f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
           f"-Djava.io.tmpdir={os.path.join(STATE, 'tmp')}"]
    for pkg in ADD_OPENS:
        jvm += ["--add-opens", f"{pkg}=ALL-UNNAMED"]
    jvm += ["-cp", JAR + os.pathsep + os.path.join(env["SPARK_HOME"], "jars", "*"),
            "perfbench.BenchMain",
            "--workload", a.workload, "--seed", str(a.seed), "--state-dir", STATE]
    # Fixture generation runs Spark jobs that would warm the measured JVM, so
    # it gets a JVM of its own; with the fixtures cached it starts no Spark.
    run_jvm(jvm + ["--phase", "prepare"], env, deadline, "fixture preparation")
    # The measured JVM touches its whole heap at start: otherwise the share
    # of the heap the collector happens to touch made peak_rss_mb read 1.8
    # instead of 2.7 GB in about one run in ten.
    measured = jvm[:1] + ["-XX:+AlwaysPreTouch"] + jvm[1:]
    run_jvm(measured + ["--phase", "measure", "--seconds", str(a.seconds),
                   "--trace", a.trace, "--manifest", MANIFEST,
                   "--launch-ms", str(int(time.time() * 1000))],
            env, deadline, "the measured run")


if __name__ == "__main__":
    main()
