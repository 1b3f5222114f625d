#!/usr/bin/env python3
"""Build file of the benchmark: compiles the library and the harness from source.

The library (``src/main/scala`` at the repository root) and the harness
(``perfbench/src``) are compiled together with the Scala compiler that ships
among the Spark jars, so no build tool, network or cache outside the checkout
is needed. The output goes to ``.bench_build/classes`` and is reused while the
sources are unchanged (a content hash is kept next to it).

    python3 perfbench/build.py          # build, print the classes directory
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD_DIR, "classes")


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark jar directory: the one the repository's build.sbt compiles
    against (its ``unmanagedBase``), else ``$SPARK_HOME/jars``."""
    candidates = []
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt, encoding="utf-8") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            candidates.append(m.group(1))
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for c in candidates:
        if glob.glob(os.path.join(c, "spark-sql_*.jar")):
            return c
    raise BuildError("no Spark jar directory found (build.sbt unmanagedBase or $SPARK_HOME/jars)")


def sources():
    lib = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not lib:
        raise BuildError("library sources not found under src/main/scala")
    harness = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not harness:
        raise BuildError("harness sources not found under perfbench/src")
    return lib + harness


def build(log=sys.stderr):
    """Compile if needed; return the classes directory."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    digest = h.hexdigest()
    stamp = os.path.join(CLASSES, ".stamp")
    if os.path.isfile(stamp):
        with open(stamp) as f:
            if f.read().strip() == digest:
                return CLASSES
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join('"%s"' % p for p in srcs))
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES, "-classpath", cp, "@" + argfile]
    print("[perfbench] compiling %d sources" % len(srcs), file=log, flush=True)
    res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    with open(os.path.join(BUILD_DIR, "build.log"), "w") as f:
        f.write(res.stdout)
    if res.returncode != 0:
        shutil.rmtree(CLASSES, ignore_errors=True)
        raise BuildError("compilation failed:\n" + res.stdout[-4000:])
    with open(stamp, "w") as f:
        f.write(digest)
    return CLASSES


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print("[perfbench] " + str(e), file=sys.stderr)
        sys.exit(1)
