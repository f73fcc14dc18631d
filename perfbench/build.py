#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (`src/main/scala`)
and the benchmark's JVM program (`perfbench/src`) with the Scala compiler
that ships among the Spark jars `build.sbt` names, into the build
directory ($CARGO_TARGET_DIR, else `.bench_build`).

A stamp over every source file skips the compile when nothing changed.

Usage (from the repository root): python3 perfbench/build.py
Prints the runtime classpath as its last line.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def jars_dir():
    """The `unmanagedBase` of build.sbt: the Spark (and Scala) jars."""
    if not os.path.exists("build.sbt"):
        raise SystemExit("no build.sbt: run from the repository root")
    with open("build.sbt") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def stamp(files, jars):
    h = hashlib.sha256(jars.encode())
    for p in files:
        with open(p, "rb") as f:
            h.update(p.encode() + b"\0" + f.read())
    return h.hexdigest()


def scalac(jars, out, files, classpath=None):
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out]
    if classpath:
        cmd += ["-classpath", classpath]
    subprocess.run(cmd + files, check=True, stdout=sys.stderr)


def build():
    jars = jars_dir()
    bd = build_dir()
    program = os.path.join(bd, "program")
    bench = os.path.join(bd, "bench")
    prog_src = sources("src/main/scala")
    bench_src = sources("perfbench/src")
    if not prog_src or not bench_src:
        raise SystemExit("no sources: run from the repository root")
    key = stamp(prog_src + bench_src, jars)
    stamp_file = os.path.join(bd, "stamp")
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == key):
        os.makedirs(bd, exist_ok=True)
        if os.path.exists(stamp_file):
            os.remove(stamp_file)
        scalac(jars, program, prog_src)
        if os.path.isdir("src/main/resources"):
            shutil.copytree("src/main/resources", program, dirs_exist_ok=True)
        scalac(jars, bench, bench_src, classpath=program)
        with open(stamp_file, "w") as f:
            f.write(key)
    return os.pathsep.join([bench, program, os.path.join(jars, "*")])


if __name__ == "__main__":
    print(build())
