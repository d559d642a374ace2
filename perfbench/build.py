#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine's sources (src/main/scala of the checkout) together
with the benchmark harness (perfbench/src) using the Scala compiler that
ships in the Spark distribution ($SPARK_HOME/jars, or the one holding
`spark-submit` on PATH), into <build dir>/classes. The build dir is
$CARGO_TARGET_DIR when set, else .bench_build, relative to the checkout
root. A content stamp of the sources skips the compile when nothing
changed.

    python3 perfbench/build.py        # build, then print the classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    raise SystemExit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail("no Spark distribution with a Scala compiler found; set SPARK_HOME")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        fail(f"engine sources not found under {os.path.relpath(engine, os.getcwd())}")
    files = []
    for base in (engine, os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def build(log=sys.stderr):
    """Compile if needed; return the run classpath and whether it compiled."""
    jars = spark_jars()
    srcs = sources()
    out = build_dir()
    classes = os.path.join(out, "classes")
    classpath = classes + os.pathsep + os.path.join(jars, "*")
    compiler = sorted(glob.glob(os.path.join(jars, "scala-*.jar")))
    h = hashlib.sha256()
    for f in srcs + compiler:
        h.update(os.path.relpath(f, ROOT).encode())
        if f in srcs:
            with open(f, "rb") as fh:
                h.update(fh.read())
    stamp = os.path.join(out, "stamp")
    if os.path.isdir(classes) and os.path.isfile(stamp) and open(stamp).read() == h.hexdigest():
        return classpath, False
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    print(f"perfbench: compiling {len(srcs)} sources", file=log, flush=True)
    cmd = [java(), "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-classpath", os.path.join(jars, "*"), "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, stdout=log, stderr=log, timeout=800)
    if r.returncode != 0:
        fail("compile failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return classpath, True


if __name__ == "__main__":
    print(build()[0])
