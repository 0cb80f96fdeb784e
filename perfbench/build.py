#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources and the
benchmark's own sources (perfbench/src) into one class directory.

Run from the repository root:  python3 perfbench/build.py

The Scala compiler is the one shipped in the Spark jar directory the root
build.sbt compiles against (its `unmanagedBase`), or $SPARK_HOME/jars. Output
goes to $CARGO_TARGET_DIR (default .bench_build)/classes and is rebuilt only
when a source file changed.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

SOURCE_DIRS = ("src/main/scala", "perfbench/src")


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def spark_jars():
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
    for d in ([m.group(1)] if m else []) + [os.path.join(os.environ.get("SPARK_HOME", ""), "jars")]:
        if glob.glob(os.path.join(d, "spark-core_*.jar")):
            return d
    sys.exit("build: no Spark jar directory (build.sbt unmanagedBase or $SPARK_HOME/jars)")


def sources():
    out = []
    for d in SOURCE_DIRS:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Returns the class directory, compiling first if a source changed."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(jars.encode())
    for s in srcs:
        h.update(s.encode())
        h.update(open(s, "rb").read())
    stamp = h.hexdigest()
    out = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(out, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    compiler = [glob.glob(os.path.join(jars, f"scala-{n}-2.*.jar"))[0]
                for n in ("compiler", "library", "reflect")]
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr)
    rc = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(compiler),
                         "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
                         "-classpath", os.path.join(jars, "*"), "-d", tmp] + srcs,
                        stdout=sys.stderr).returncode
    if rc != 0:
        sys.exit(f"build: scalac exited {rc}")
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(build())
