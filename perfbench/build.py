#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program and the harness.

Compiles `src/main/scala` (plus `src/main/resources`) and then
`perfbench/harness/src` with the Scala compiler that ships among the Spark
jars, into `<out>/classes`. The Spark jar directory is the one the
repository's `build.sbt` names as `unmanagedBase`; the compiler version must
equal its `scalaVersion`. A stamp over every input skips an up-to-date
build.

Usage: build.py [REPO_ROOT] [--out DIR]   (prints the runtime classpath)
"""
import argparse
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _sbt_setting(root, pattern):
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(pattern, f.read())
    if not m:
        raise SystemExit(f"build.sbt: no match for {pattern}")
    return m.group(1)


def spark_jars(root):
    jars = _sbt_setting(root, r'unmanagedBase\s*:=\s*file\("([^"]+)"\)')
    return jars if os.path.isabs(jars) else os.path.join(root, jars)


def _sources(*dirs, ext=".scala"):
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(ext)]
    return sorted(out)


def _stamp(root, inputs, jars):
    h = hashlib.sha256()
    for p in inputs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def _scalac(jars, classpath, out, files):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-cp", classpath] + files
    subprocess.run(cmd, check=True, stdout=sys.stderr, stderr=sys.stderr)


def build(root, out):
    """Compile if stale; return the runtime classpath."""
    jars = spark_jars(root)
    scala = _sbt_setting(root, r'scalaVersion\s*:=\s*"([^"]+)"')
    if not os.path.exists(os.path.join(jars, f"scala-compiler-{scala}.jar")):
        raise SystemExit(f"no scala-compiler-{scala}.jar in {jars}")
    main_src = os.path.join(root, "src", "main", "scala")
    res = os.path.join(root, "src", "main", "resources")
    harness_src = os.path.join(HERE, "harness", "src")
    inputs = _sources(main_src) + _sources(res, ext="") + _sources(harness_src) + \
        [os.path.join(root, "build.sbt"), os.path.abspath(__file__)]
    main_out = os.path.join(out, "classes", "main")
    harness_out = os.path.join(out, "classes", "harness")
    classpath = os.pathsep.join([harness_out, main_out, os.path.join(jars, "*")])
    stamp_file = os.path.join(out, "build.stamp")
    stamp = _stamp(root, inputs, jars)
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return classpath
    shutil.rmtree(os.path.join(out, "classes"), ignore_errors=True)
    _scalac(jars, os.path.join(jars, "*"), main_out, _sources(main_src))
    if os.path.isdir(res):
        shutil.copytree(res, main_out, dirs_exist_ok=True)
    _scalac(jars, os.pathsep.join([main_out, os.path.join(jars, "*")]),
            harness_out, _sources(harness_src))
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("root", nargs="?", default=".")
    ap.add_argument("--out", default=None)
    a = ap.parse_args()
    root = os.path.abspath(a.root)
    out = a.out or os.path.join(root, ".bench_build")
    print(build(root, os.path.abspath(out)))


if __name__ == "__main__":
    main()
