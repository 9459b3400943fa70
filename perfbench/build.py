"""Builds the program and the benchmark harness into perfbench/target.

Compiles the repository's `src/main/scala` together with `perfbench/src`
with the Scala compiler that ships in Spark's jar directory
(`$SPARK_HOME/jars`, the same jars the sbt build compiles against), and
copies `src/main/resources`. A stamp over every input file's path, size and
content lets later runs skip the compile. `run.py` calls `build()`.
"""
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
CLASSES = os.path.join(TARGET, "classes")
STAMP = os.path.join(TARGET, "stamp")
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("build: SPARK_HOME must point at a Spark install with a jars/ directory")
    return os.path.join(home, "jars", "*")


def _files(top, suffix=""):
    out = []
    for d, _, names in os.walk(top):
        out += [os.path.join(d, n) for n in names if n.endswith(suffix)]
    return sorted(out)


def classpath():
    return CLASSES + os.pathsep + spark_jars()


def build():
    """Compiles when an input changed; returns the runtime classpath."""
    for d in SOURCES[:1] + [RESOURCES]:
        if not os.path.isdir(d):
            raise SystemExit(f"build: missing {os.path.relpath(d, ROOT)}; run from a full checkout")
    sources = [f for d in SOURCES for f in _files(d, ".scala")]
    resources = _files(RESOURCES)
    h = hashlib.sha256()
    for f in sources + resources:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return classpath()
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    args = os.path.join(TARGET, "sources.txt")
    with open(args, "w") as f:
        f.write("\n".join(sources) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", spark_jars(), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", CLASSES, "@" + args]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        raise SystemExit("build: compile failed")
    for f in resources:
        dst = os.path.join(CLASSES, os.path.relpath(f, RESOURCES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copy(f, dst)
    with open(STAMP, "w") as f:
        f.write(stamp)
    return classpath()
