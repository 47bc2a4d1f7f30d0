#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <glm_estimator|glm_path|curation>
        --seed <n> --seconds <s> --trace <0|1> [--size full|tiny]

Run from the root of a checkout. The first run compiles the program's
sources together with the harness in perfbench/src (sbt, see
perfbench/build.sbt) into .bench_build/; later runs reuse the classes
until a source file changes. The harness runs in one JVM on local[N],
N = min(4, cores), and prints one JSON result object as the last line of
standard output. The exit code is non-zero when an output check failed or
the run could not start.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "perfbench-target", "scala-2.13", "classes")
STAMP = os.path.join(BUILD, "sources.sha1")
PROGRAM_SOURCES = os.path.join(ROOT, "src", "main", "scala")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    """Hash of every source path, size and mtime the build reads."""
    h = hashlib.sha1()
    roots = [PROGRAM_SOURCES, os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs
            if "target" not in os.path.relpath(d, r).split(os.sep))
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    digest = sources_digest()
    if os.path.exists(STAMP) and os.path.isdir(CLASSES):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH; it is needed to compile the benchmark")
    print("[perfbench] compiling program and harness (first run)", file=sys.stderr)
    try:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                           cwd=HERE, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out", 3)
    if r.returncode != 0:
        fail("build failed", 3)
    os.makedirs(BUILD, exist_ok=True)
    with open(STAMP, "w") as f:
        f.write(digest + "\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["glm_estimator", "glm_path", "curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(PROGRAM_SOURCES, "graft")):
        fail("program sources (src/main/scala/graft) not found; run from a full checkout")
    spark_home = os.environ.get("SPARK_HOME", "")
    if not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must point at a Spark 4.x installation")
    build()

    work = os.path.join(BUILD, "work")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = os.pathsep.join([CLASSES, os.path.join(spark_home, "jars", "*")])
    # a fixed-size heap: no heap resizing to vary from run to run
    cmd = ["java", "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--size", a.size, "--work-dir", work,
            "--trace-dir", os.path.join(BUILD, "trace")]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 4)
    lines = [l for l in out.splitlines() if l.strip()]
    if not lines or not lines[-1].startswith("{"):
        sys.stdout.write(out)
        fail(f"the harness printed no result (exit {proc.returncode})",
             proc.returncode or 5)
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    print(lines[-1])
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
