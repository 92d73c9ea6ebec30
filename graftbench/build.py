#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
harness (graftbench/src) with the Scala compiler that ships in Spark's jars
directory, into <build dir>/classes. No dependency resolution happens, so
the build is offline by construction; nothing under any target/ directory
is read.

    python3 graftbench/build.py

The build is skipped when a stamp of the sources and the jars matches the
last successful build.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(BENCH_DIR, "src")
SCALA_VERSION = "2.13.17"  # build.sbt's scalaVersion


class BuildError(Exception):
    pass


def jars_dir():
    return os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def build_dir():
    """Build outputs live in the checkout: CARGO_TARGET_DIR when set,
    else .bench_build at the repo root."""
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def classpath(bdir):
    return os.path.join(bdir, "classes") + os.pathsep + os.path.join(jars_dir(), "*")


def _sources():
    out = []
    for base in (ENGINE_SRC, HARNESS_SRC):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def _stamp(sources, jdir):
    h = hashlib.sha256()
    for p in sources:
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    for j in sorted(os.listdir(jdir)):
        h.update(f"{j}:{os.path.getsize(os.path.join(jdir, j))}\n".encode())
    return h.hexdigest()


def ensure_built(bdir):
    """Compile unless up to date; returns the run classpath."""
    if not os.path.isdir(ENGINE_SRC) or not os.listdir(ENGINE_SRC):
        raise BuildError(f"engine sources not found at {ENGINE_SRC}")
    jdir = jars_dir()
    compiler = os.path.join(jdir, f"scala-compiler-{SCALA_VERSION}.jar")
    if not os.path.isfile(compiler):
        raise BuildError(f"Scala {SCALA_VERSION} compiler not found at {compiler}")
    sources = _sources()
    stamp = _stamp(sources, jdir)
    stamp_file = os.path.join(bdir, "stamp")
    classes = os.path.join(bdir, "classes")
    if os.path.isdir(classes) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return classpath(bdir)
    os.makedirs(bdir, exist_ok=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(bdir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jdir, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp,
           "@" + argfile]
    t0 = time.time()
    print(f"[graftbench] compiling {len(sources)} sources", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        tail = "\n".join(r.stdout.splitlines()[-30:])
        raise BuildError(f"scalac exited {r.returncode}:\n{tail}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    print(f"[graftbench] compiled in {time.time() - t0:.1f} s", file=sys.stderr, flush=True)
    return classpath(bdir)


def main():
    try:
        print(ensure_built(build_dir()))
    except (BuildError, subprocess.TimeoutExpired, OSError) as e:
        print(f"[graftbench] build failed: {e}", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
