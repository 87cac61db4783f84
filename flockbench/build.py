#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the benchmark's own (flockbench/src) into
.bench_build/classes with the Scala compiler that ships in Spark's jars.

A stamp over every source file's path and bytes skips the compile when
nothing changed. Usage: python3 flockbench/build.py  (from the repo root)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def jar_dir():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    if not m:
        sys.exit("flockbench: set SPARK_HOME (build.sbt names no jar directory)")
    return m.group(1)


def spark_jars():
    d = jar_dir()
    if not os.path.isdir(d):
        sys.exit(f"flockbench: no Spark jars at {d} (set SPARK_HOME)")
    return sorted(os.path.join(d, j) for j in os.listdir(d) if j.endswith(".jar"))


def classpath():
    """Runtime classpath: compiled classes, program resources, Spark jars."""
    return os.pathsep.join([CLASSES, RESOURCES] + spark_jars())


def scala_files():
    files = []
    for root in SOURCES:
        if not os.path.isdir(root):
            sys.exit(f"flockbench: missing source directory {root}")
        for d, _, names in os.walk(root):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def stamp(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(os.path.basename(j) for j in jars).encode())
    return h.hexdigest()


def build():
    files = scala_files()
    jars = spark_jars()
    want = stamp(files, jars)
    mark = os.path.join(CLASSES, ".stamp")
    if os.path.exists(mark) and open(mark).read() == want:
        return
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.makedirs(os.path.join(OUT, "tmp"), exist_ok=True)
    cp = os.pathsep.join(jars)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(OUT, 'tmp')}",
           "-cp", cp, "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", cp, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"flockbench: compile failed ({r.returncode})")
    with open(os.path.join(tmp, ".stamp"), "w") as fh:
        fh.write(want)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)


if __name__ == "__main__":
    build()
