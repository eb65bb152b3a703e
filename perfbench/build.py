#!/usr/bin/env python3
"""Builds the benchmark: compiles the program's sources (src/main/scala) and
the benchmark's own (perfbench/src) into one class directory, with the Scala
compiler that ships among the Spark jars the program builds against.

The repo's sbt build is not used or changed. The class directory is keyed by a
digest of every source file, so a checkout builds once and an edited source
builds anew.

Usage (from the repo root): python3 perfbench/build.py
Prints the runtime classpath on success.
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


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    directory the repo's build.sbt names as its unmanaged base."""
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
    raise BuildError("no Spark jars: set SPARK_HOME")


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    if not prog:
        raise BuildError("no program sources under src/main/scala")
    return prog + bench


def build():
    """Compiles if needed; returns the runtime classpath string."""
    jars = spark_jars()
    srcs = sources()
    resources = os.path.join(ROOT, "src/main/resources")
    h = hashlib.sha256()
    for p in srcs + sorted(glob.glob(os.path.join(resources, "**/*"), recursive=True)):
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    out = os.path.join(HERE, ".build", h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if not os.path.exists(os.path.join(out, "done")):
        tmp = f"{out}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(os.path.join(tmp, "classes"))
        r = subprocess.run(
            ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
             "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
             "-d", os.path.join(tmp, "classes")] + srcs,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise BuildError("scalac failed:\n" + r.stdout[-4000:])
        open(os.path.join(tmp, "done"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    return os.pathsep.join([classes, resources, os.path.join(jars, "*")])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"perfbench build: {e}", file=sys.stderr)
        sys.exit(2)
