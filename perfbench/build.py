#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles graft's sources (`src/main/scala` of the checkout) together with the
benchmark's own sources (`perfbench/src`) into `perfbench/target/classes`,
using the Scala compiler that ships among Spark's jars (the directory
`$SPARK_HOME/jars`, else the `unmanagedBase` that `build.sbt` names). A stamp
over every source file skips the compile when nothing changed.

Usage: python3 perfbench/build.py
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
TARGET = os.path.join(HERE, "target")
CLASSES = os.path.join(TARGET, "classes")
STAMP = os.path.join(TARGET, "stamp")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    raise BuildError("Spark jars not found: set SPARK_HOME")


def sources():
    graft = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                             recursive=True))
    if not graft:
        raise BuildError("graft sources not found under src/main/scala")
    own = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return graft + own


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath(jars):
    return os.pathsep.join([CLASSES, os.path.join(jars, "*")])


def build(timeout=840):
    """Compiles if any source changed; returns the run classpath."""
    jars = spark_jars()
    files = sources()
    compiler = sorted(glob.glob(os.path.join(jars, "scala-compiler-*.jar")))
    if not compiler:
        raise BuildError(f"no scala-compiler jar in {jars}")
    stamp = source_hash(files) + " " + os.path.basename(compiler[-1])
    if os.path.isfile(STAMP) and open(STAMP).read() == stamp:
        return classpath(jars)
    scala_cp = os.pathsep.join(
        glob.glob(os.path.join(jars, f"scala-{lib}-2*.jar"))[0]
        for lib in ("compiler", "library", "reflect"))
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(TARGET, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", scala_cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", os.path.join(jars, "*"), "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=timeout)
    if r.returncode != 0:
        raise BuildError("compile failed:\n" + r.stdout[-4000:])
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as f:
        f.write(stamp)
    return classpath(jars)


if __name__ == "__main__":
    try:
        print(build())
    except (BuildError, subprocess.TimeoutExpired) as e:
        sys.exit(f"build: {e}")
