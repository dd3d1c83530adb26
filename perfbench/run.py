#!/usr/bin/env python3
"""Outside-in benchmark of the graft engine.

Run from the repository root:

    python3 perfbench/run.py --workload resample_granule --seed 7 --seconds 8 --trace 0
    python3 perfbench/run.py --selftest            # checksum sensitivity self-test
    python3 perfbench/run.py --record --seed 7     # re-record expected outputs

The first call compiles the engine (src/main/scala) and the benchmark
(perfbench/src) with the Scala compiler that matches the Spark
distribution's scala-library, into .bench_build/. Later calls reuse the
classes while the sources are unchanged. The benchmark JVM is then started
with the Spark jars on the class path; its standard output ends with one
JSON result line. All scratch data stays under .bench_build/.
"""
import argparse
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BENCH_DIR = os.path.join(ROOT, "perfbench")
BUILD_DIR = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD_DIR, "classes")
STAMP = os.path.join(BUILD_DIR, "classes.sha256")
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 850

# Spark on JDK 17 needs these when the session is not started by spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    """$SPARK_HOME, else the distribution whose spark-submit is on PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if not submit:
        fail("no Spark distribution: set SPARK_HOME or put spark-submit on PATH")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit)))


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                          recursive=True))
    bench = sorted(glob.glob(os.path.join(BENCH_DIR, "src", "*.scala")))
    if not engine:
        fail("no engine sources under src/main/scala; run from the repository root")
    if not bench:
        fail("no benchmark sources under perfbench/src")
    return engine + bench


def scala_version(spark_jars):
    libs = glob.glob(os.path.join(spark_jars, "scala-library-*.jar"))
    if not libs:
        fail(f"no scala-library jar in {spark_jars}")
    return re.search(r"scala-library-(.+)\.jar$", libs[0]).group(1)


def compiler_jars(version, spark_jars):
    """The scala compiler the Spark distribution was built with, from the
    local dependency caches (read only; nothing is downloaded)."""
    home = os.path.expanduser("~")
    roots = [os.path.join(home, d) for d in (".cache/coursier", ".ivy2", ".m2", ".sbt/boot")]
    jars = []
    for name in ("scala-compiler", "scala-reflect"):
        found = None
        for r in roots:
            hits = glob.glob(os.path.join(r, "**", f"{name}-{version}.jar"), recursive=True)
            if hits:
                found = hits[0]
                break
        if not found:
            fail(f"{name}-{version}.jar not found in the local dependency caches")
        jars.append(found)
    return jars + [os.path.join(spark_jars, f"scala-library-{version}.jar")]


def build(spark_jars):
    srcs = sources()
    version = scala_version(spark_jars)
    h = hashlib.sha256(version.encode())
    for p in srcs:
        h.update(p[len(ROOT):].encode())
        with open(p, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss16m",
           "-cp", ":".join(compiler_jars(version, spark_jars)),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", CLASSES,
           "-cp", os.path.join(spark_jars, "*"), "@" + argfile]
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        fail("compilation failed")
    with open(STAMP, "w") as f:
        f.write(digest + "\n")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    if not (a.workload or a.selftest or a.record):
        ap.error("one of --workload, --selftest, --record is required")

    spark_jars = os.path.join(spark_home(), "jars")
    os.makedirs(BUILD_DIR, exist_ok=True)
    build(spark_jars)
    tmp = os.path.join(BUILD_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    ncpu = len(os.sched_getaffinity(0))
    # -XX:-UsePerfData: no hsperfdata files outside the checkout
    jvm = ["java", "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    jvm += ["-cp", CLASSES + ":" + os.path.join(spark_jars, "*"), "perfbench.Main",
            "--root", ROOT, "--cpus", str(ncpu)]
    if a.selftest:
        jvm += ["--selftest"]
    elif a.record:
        jvm += ["--record", "--seed", str(a.seed), "--seconds", str(a.seconds)]
        if a.workload:
            jvm += ["--workload", a.workload]
    else:
        jvm += ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
    timeout = RUN_TIMEOUT_S if not a.record else 3 * RUN_TIMEOUT_S
    try:
        r = subprocess.run(jvm, timeout=timeout)
    except subprocess.TimeoutExpired:
        fail(f"benchmark did not finish within {timeout} s")
    sys.exit(r.returncode)


if __name__ == "__main__":
    main()
