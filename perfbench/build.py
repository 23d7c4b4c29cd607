#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the benchmark harness (perfbench/harness)
into one class directory, with the Scala compiler that ships among the
Spark jars. A stamp of the source contents skips the compile when nothing
changed.

Usage: python3 perfbench/build.py [build_dir]   (run from the repo root)
The build dir defaults to $CARGO_TARGET_DIR, else .bench_build.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    one next to the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit("perfbench: no Spark jars found (set SPARK_HOME)")
    return jars


def sources(root):
    prog = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                            recursive=True))
    if not prog:
        raise SystemExit(f"perfbench: no program sources under {root}/src/main/scala")
    return prog + sorted(glob.glob(os.path.join(root, "perfbench/harness/*.scala")))


def build_dir(root, arg=None):
    d = arg or os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(root, d, "perfbench")


def ensure_built(root, out):
    """Compiles into out/classes unless its stamp matches the sources."""
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    if os.path.isdir(classes) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return classes
    os.makedirs(out, exist_ok=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(spark_jars(), "*")
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    r = subprocess.run(["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp,
                        "scala.tools.nsc.Main",
                        "-nowarn", "-deprecation:false", "-d", tmp,
                        "-classpath", cp, "@" + argfile],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    shutil.rmtree(classes, ignore_errors=True)
    os.replace(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return classes


if __name__ == "__main__":
    root = os.getcwd()
    print(ensure_built(root, build_dir(root, sys.argv[1] if len(sys.argv) > 1 else None)))
