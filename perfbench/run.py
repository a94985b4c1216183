#!/usr/bin/env python3
"""Build the engine and the benchmark from source, then run one workload.

    python3 perfbench/run.py --workload evm_archive --seed 1 [--seconds 28] --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. The engine (src/main/scala) and the benchmark
(perfbench/src) are compiled together with the Scala compiler that ships in
Spark's jar directory; the classes are cached under .bench_build/ and rebuilt
only when a source file changes. Everything the run writes stays under
.bench_build/. The last line of standard output is the run's JSON result.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
ENGINE_SRC = os.path.join("src", "main", "scala")
ENGINE_RES = os.path.join("src", "main", "resources")
BENCH_SRC = os.path.join("perfbench", "src")
BUILD = ".bench_build"
BENCHMARK_JSON = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")


def run_seconds():
    """The measured seconds of one run, as BENCHMARK.json sets them."""
    with open(BENCHMARK_JSON) as f:
        return json.load(f)["run_seconds"]


def spark_jars():
    """The jars of SPARK_HOME, else of the first Spark whose bin/ is on PATH;
    None when neither holds the Scala compiler the build needs."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    return None


SPARK_JARS = spark_jars()

BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 175

# What spark-submit passes to a JDK 17 JVM (JavaModuleOptions).
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


def sources():
    out = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def build():
    """Compile engine + benchmark into .bench_build/classes; returns the class dir."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    digest = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "classes.sha256")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    print(f"perfbench: compiling {len(srcs)} source files", file=sys.stderr)
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes,
           "-Ybackend-parallelism", "4", "@" + argfile]
    try:
        r = subprocess.run(cmd, stdout=sys.stderr, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("compile timed out")
    if r.returncode != 0:
        fail(f"compile failed (exit {r.returncode})")
    with open(stamp, "w") as f:
        f.write(digest)
    return classes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, help="default: run_seconds of BENCHMARK.json")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if not args.selftest and not args.workload:
        fail("--workload is required")
    if not os.path.isdir(ENGINE_SRC) or not os.path.isdir(BENCH_SRC):
        fail("run from the repository root: src/main/scala or perfbench/src is missing")
    if SPARK_JARS is None:
        fail("no Spark installation with a Scala compiler: set SPARK_HOME")

    seconds = args.seconds if args.seconds is not None else run_seconds()
    classes = build()
    work = os.path.abspath(os.path.join(BUILD, "work", f"run-{os.getpid()}"))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = os.pathsep.join([classes, ENGINE_RES, os.path.join(SPARK_JARS, "*")])
    # A fixed heap keeps the collector's sizing decisions, and so its
    # pauses, the same from run to run. Temporary files stay in the run's
    # work directory; the JVM's perf-data file, which would go to the
    # system temp directory, is turned off.
    jvm = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-Xss8m",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dlog4j2.configurationFile=" + os.path.join(ROOT, "perfbench", "log4j2.properties"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    if args.selftest:
        prog = ["perfbench.SelfTest", work]
    else:
        prog = ["perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(seconds), "--trace", str(args.trace),
                "--work", work, "--results", os.path.join(BUILD, "results")]
    proc = subprocess.Popen(jvm + ["-cp", cp] + prog)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        code = 124
        print("perfbench: run timed out", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
