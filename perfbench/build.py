#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles graft's sources (`src/main/scala` of the checkout) together with
the benchmark's own sources (`perfbench/src`) into `.bench_build/classes`,
with the Scala compiler that ships in the Spark distribution (`$SPARK_HOME`,
or the jar directory build.sbt uses). Nothing is fetched. A stamp of the
source contents skips the compile when nothing changed.

Usage: python3 perfbench/build.py   (from the root of the checkout)
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")


class BuildError(Exception):
    pass


def sources():
    prog = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(prog, "graft")):
        raise BuildError(f"graft sources not found under {prog}")
    files = sorted(glob.glob(os.path.join(prog, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(BENCH, "src", "**", "*.scala"), recursive=True))
    return files


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt names as unmanagedBase."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read()) if os.path.exists(sbt) else None
    if m is None:
        raise BuildError("set SPARK_HOME: no Spark jar directory in build.sbt")
    return m.group(1)


def classpath():
    jars = spark_jars()
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no Spark distribution with a Scala compiler at {jars}")
    return os.path.join(jars, "*")


def build(log=sys.stderr):
    """Compile if needed; return the runtime classpath and the source stamp."""
    srcs = sources()
    cp = classpath()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "classes.stamp")
    runtime_cp = CLASSES + os.pathsep + cp
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return runtime_cp, stamp
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    os.makedirs(CLASSES, exist_ok=True)
    for old in glob.glob(os.path.join(CLASSES, "**", "*.class"), recursive=True):
        os.remove(old)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", CLASSES] + srcs
    r = subprocess.run(cmd, stdout=log, stderr=log, cwd=ROOT)
    if r.returncode != 0:
        raise BuildError(f"scalac exited with {r.returncode}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return runtime_cp, stamp


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
