#!/usr/bin/env python3
"""Build for the oracle-checked benchmark.

Compiles the engine's sources (`src/main/scala` of the checkout) together
with the harness (`oraclebench/src/main/scala`) in one scalac run, against
the jars of the Spark installation, into `oraclebench/target/classes`.
The Scala compiler is the one Spark ships (`scala-compiler-*.jar` in its
`jars/` directory), so the build needs no sbt, no dependency cache and no
network. The Spark installation is `$SPARK_HOME`, or else the one whose
`spark-submit` is on PATH.

A build is reused while the digest of its sources is unchanged.

Usage (from the root of a checkout): python3 oraclebench/build.py
"""
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
TARGET = os.path.join(HERE, "target")
BUILD_TIMEOUT_S = 840


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar"))) if home else []
    if not jars:
        raise BuildError("no Spark installation found (set SPARK_HOME)")
    return jars


def sources(root):
    out = []
    for base in (os.path.join(root, "src", "main", "scala"),
                 os.path.join(HERE, "src", "main", "scala")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(root, srcs, jars):
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    with open(os.path.abspath(__file__), "rb") as f:
        h.update(hashlib.sha256(f.read()).digest())
    for j in jars:
        h.update(os.path.basename(j).encode())
    return h.hexdigest()


def build(root):
    """Compile once per source digest; return (classpath, digest)."""
    srcs = sources(root)
    if not any(p.endswith(os.path.join("graft", "SparkEntry.scala")) for p in srcs):
        raise BuildError("src/main/scala/graft/SparkEntry.scala not found: "
                         "run from the root of a graft checkout")
    jars = spark_jars()
    d = digest(root, srcs, jars)
    classes = os.path.join(TARGET, "classes")
    stamp = os.path.join(TARGET, "build.json")
    classpath = os.pathsep.join([classes] + jars)
    if os.path.exists(stamp):
        with open(stamp) as f:
            if json.load(f).get("digest") == d:
                return classpath, d
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        raise BuildError("the Spark installation ships no Scala compiler")
    shutil.rmtree(TARGET, ignore_errors=True)
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(classes)
    os.makedirs(tmp)
    args = os.path.join(TARGET, "scalac.args")
    with open(args, "w") as f:
        f.write("\n".join(["-d", classes, "-classpath", os.pathsep.join(jars)] + srcs) + "\n")
    try:
        p = subprocess.run(
            ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
             "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main", "@" + args],
            cwd=root, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise BuildError(f"scalac did not finish within {BUILD_TIMEOUT_S} s")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-6000:])
        raise BuildError(f"scalac exited with {p.returncode}")
    shutil.rmtree(tmp, ignore_errors=True)
    with open(stamp, "w") as f:
        json.dump({"digest": d, "sources": len(srcs)}, f)
    return classpath, d


if __name__ == "__main__":
    try:
        cp, d = build(os.getcwd())
    except BuildError as e:
        print(f"oraclebench: {e}", file=sys.stderr)
        sys.exit(3)
    print(d)
