#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark harness (perfbench/harness) with the Scala compiler that
ships in the Spark distribution, into <build dir>/classes.

The build dir is $CARGO_TARGET_DIR if set, else .bench_build, relative to
the checkout root. A build is skipped when the sources hash to the stamp
of the last successful build.

Usage: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spark_jars():
    """The jars of the Spark distribution: $SPARK_JARS, else $SPARK_HOME/jars,
    else the jars next to the `spark-submit` on PATH."""
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise RuntimeError("build: no Spark distribution (set SPARK_HOME)")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def classpath():
    return os.path.join(build_dir(), "classes") + os.pathsep + os.path.join(spark_jars(), "*")


def sources():
    files = []
    for sub in ("src/main/scala", "perfbench/harness"):
        files += glob.glob(os.path.join(ROOT, sub, "**", "*.scala"), recursive=True)
        files += glob.glob(os.path.join(ROOT, sub, "**", "*.java"), recursive=True)
    return sorted(files)


def build():
    srcs = sources()
    if not any("/src/main/scala/" in s for s in srcs):
        raise RuntimeError("build: no program sources under src/main/scala")
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    out = os.path.join(build_dir(), "classes")
    stamp = os.path.join(build_dir(), "classes.stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main", "-nowarn",
           "-d", out, "-classpath", jars] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise RuntimeError(f"build: scalac failed with code {r.returncode}")
    with open(stamp, "w") as f:
        f.write(digest)


if __name__ == "__main__":
    try:
        build()
    except RuntimeError as e:
        sys.exit(str(e))
