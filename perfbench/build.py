#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main) together
with the benchmark's JVM half (perfbench/scala) into one class directory,
using the Scala compiler that ships in Spark's jars.

    python3 perfbench/build.py [build_dir]     (default: .bench_build)

Prints the runtime classpath. A build is skipped when a stamp of every
source file's path and contents matches the last successful build.
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCE_DIRS = ("src/main/scala", "src/main/java", "perfbench/scala")
RESOURCES = "src/main/resources"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("build: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        raise SystemExit(f"build: no jars directory under {home}")
    return jars


def sources():
    out = []
    for d in SOURCE_DIRS:
        for base, _, files in os.walk(os.path.join(ROOT, d)):
            out += [os.path.join(base, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def stamp(files):
    h = hashlib.sha256()
    for f in files + sorted(
            os.path.join(b, f) for b, _, fs in os.walk(os.path.join(ROOT, RESOURCES)) for f in fs):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(build_dir):
    jars = spark_jars()
    classes = os.path.join(build_dir, "classes")
    cp = f"{classes}{os.pathsep}{os.path.join(jars, '*')}"
    files = sources()
    if not any(f.startswith(os.path.join(ROOT, "src", "main")) for f in files):
        raise SystemExit("build: the program's sources (src/main) are missing")
    key = stamp(files)
    stamp_file = os.path.join(build_dir, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == key:
        return cp
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    args_file = os.path.join(build_dir, "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files))
    subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
         "-nowarn", "-d", classes, "-classpath", os.path.join(jars, "*"), "@" + args_file],
        check=True, stdout=sys.stderr)
    res = os.path.join(ROOT, RESOURCES)
    if os.path.isdir(res):
        shutil.copytree(res, classes, dirs_exist_ok=True)
    with open(stamp_file, "w") as fh:
        fh.write(key)
    return cp


if __name__ == "__main__":
    print(build(os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build"))))
