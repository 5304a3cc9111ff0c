#!/usr/bin/env python3
"""Build file of the connector benchmark.

Compiles the engine (src/main/scala) together with the benchmark
(connbench/src) with the Scala compiler that ships in Spark's jar
directory ($SPARK_HOME/jars), into .bench_build/connbench/classes-<hash>.
The hash covers every source file, so an unchanged tree is not rebuilt.

    python3 connbench/build.py      # from the checkout root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = os.path.join(".bench_build", "connbench")
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD_TIMEOUT_S = 900


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    jars = os.path.join(home, "jars") if home else None
    if not jars or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("SPARK_HOME must point at a Spark 4 / Scala 2.13 distribution")
    return jars


def classpath(classes):
    return os.pathsep.join([classes, os.path.join(spark_jars(), "*")])


def sources(root):
    engine = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise BuildError(f"no engine sources at {engine}: run from the checkout root")
    files = []
    for d in (engine, os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def ensure_built(root):
    files = sources(root)
    jars = spark_jars()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(root, BUILD_DIR, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(root, BUILD_DIR, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"compile exceeded {BUILD_TIMEOUT_S} s")
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout.decode("utf-8", "replace")[-8000:])
        raise BuildError("compile failed")
    open(os.path.join(tmp, ".complete"), "w").close()
    for old in glob.glob(os.path.join(root, BUILD_DIR, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    try:
        print(ensure_built(os.getcwd()))
    except BuildError as e:
        sys.stderr.write(f"connbench: {e}\n")
        sys.exit(2)
