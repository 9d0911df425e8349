"""Compile graft's main sources and the benchmark's Scala sources with the
Scala compiler that ships among the Spark jars.

Output goes to $CARGO_TARGET_DIR (default .bench_build) under the checkout
root, in a directory named after a hash of every source file, so an
unchanged tree is compiled once. Run directly to build:

    python3 perfbench/build.py
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def out_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if not m:
            raise RuntimeError("build.sbt names no unmanagedBase jar directory")
        jars = m.group(1)
    if not os.path.isdir(jars):
        raise RuntimeError(f"no Spark jars at {jars}")
    return os.path.join(jars, "*")


def sources():
    trees = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    for t in trees:
        if not os.path.isdir(t):
            raise RuntimeError(f"missing source tree {t}")
    files = []
    for t in trees:
        for d, _, names in os.walk(t):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def ensure_built(log=sys.stderr):
    """Return the classes directory, compiling first if needed."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    classes = os.path.join(out_dir(), "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(classes, ".complete")):
        return classes
    tmp = classes + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", spark_jars(), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", tmp] + files
    print(f"compiling {len(files)} sources into {classes}", file=log, flush=True)
    try:
        subprocess.run(cmd, check=True, stdout=log, stderr=log)
        open(os.path.join(tmp, ".complete"), "w").close()
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return classes


if __name__ == "__main__":
    print(ensure_built())
