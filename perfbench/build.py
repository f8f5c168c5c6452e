#!/usr/bin/env python3
"""Build the benchmark: compile the engine sources (src/main/scala) and
the benchmark's own sources (perfbench/src) with the Scala compiler that
ships among the Spark jars, and write the classes
straight into perfbench/out/build/perfbench.jar.

The Spark jar directory is the one the project's build.sbt names as its
`unmanagedBase`. A stamp of every source's content skips the compile when
nothing changed. Run from the repository root:

    python3 perfbench/build.py
"""
import hashlib
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out", "build")
JAR = os.path.join(OUT, "perfbench.jar")
STAMP = os.path.join(OUT, "stamp")
# class-data-sharing archive of a first run (see run.py); stale with the jar
ARCHIVE = os.path.join(OUT, "classes.jsa")


def spark_jars():
    """The jar directory build.sbt's `unmanagedBase := file("...")` names."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    out = []
    for r in roots:
        if not os.path.isdir(r):
            raise SystemExit(f"missing source directory {os.path.relpath(r, ROOT)}")
        for d, _, files in os.walk(r):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def spark_classpath():
    d = spark_jars()
    return os.pathsep.join(os.path.join(d, f) for f in sorted(os.listdir(d)) if f.endswith(".jar"))


def build(quiet=False):
    """Compile when the sources changed; returns the runtime classpath:
    the benchmark jar, then every Spark jar by name (a class-data-sharing
    archive needs jars only, in a fixed order)."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    digest = h.hexdigest()
    cp = spark_classpath()
    runtime = JAR + os.pathsep + cp
    if os.path.exists(STAMP) and open(STAMP).read() == digest and os.path.exists(JAR):
        return runtime
    for stale in (STAMP, ARCHIVE, JAR):
        if os.path.exists(stale):
            os.remove(stale)
    os.makedirs(OUT, exist_ok=True)
    args = os.path.join(OUT, "sources.txt")
    with open(args, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", JAR, "-classpath", cp, "@" + args]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("compile failed")
    if not quiet:
        sys.stderr.write(r.stdout[-2000:])
    with open(STAMP, "w") as f:
        f.write(digest)
    return runtime


if __name__ == "__main__":
    build()
    print(JAR)
