#!/usr/bin/env python3
"""Build file of the mobility-pipeline benchmark.

Compiles the program's sources (src/main/scala) together with the
benchmark's own sources (perfbench/src) with the Scala compiler that ships
in the Spark distribution, into .bench_build/classes of the checkout. The
build is skipped when a digest of every source file and of the jar list
matches the one recorded by the previous build.

    python3 perfbench/build.py        # from the repository root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src")]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    jars = sorted(glob.glob(os.path.join(home or ".", "jars", "*.jar")))
    if not jars:
        raise SystemExit("build: no Spark jars found; set SPARK_HOME")
    return jars


def sources():
    if not os.path.isdir(SOURCE_DIRS[0]):
        raise SystemExit("build: program sources src/main/scala not found; "
                         "run from a full checkout of the repository")
    found = []
    for d in SOURCE_DIRS:
        for base, _, files in os.walk(d):
            found += [os.path.join(base, f) for f in files
                      if f.endswith(".scala")]
    return sorted(found)


def digest(srcs, jars):
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    for j in jars:
        h.update(os.path.basename(j).encode())
    return h.hexdigest()


def build(quiet=False):
    """Compile if needed; returns the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    stamp = os.path.join(OUT, "classes.sha256")
    want = digest(srcs, jars)
    cp = [CLASSES] + jars
    if os.path.exists(stamp) and open(stamp).read().strip() == want:
        return cp
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={OUT}", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn",
           "-classpath", os.pathsep.join(jars), "-d", CLASSES, "@" + argfile]
    if not quiet:
        print(f"build: compiling {len(srcs)} Scala files", file=sys.stderr)
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = p.wait()
    finally:
        if p.poll() is None:  # interrupted: stop the compiler too
            p.kill()
            p.wait()
    if code != 0:
        raise SystemExit(f"build: scalac failed with code {code}")
    with open(stamp, "w") as f:
        f.write(want + "\n")
    return cp


if __name__ == "__main__":
    build()
