#!/usr/bin/env python3
"""Build file of the layer benchmark.

Compiles the engine sources (src/main/scala), then the benchmark's own
sources (layerbench/src) against them, each into its own class
directory, with the Scala compiler that ships among the Spark jars. A
stamp of the source hash makes a rebuild of unchanged sources a no-op.

    python3 layerbench/build.py [--out DIR]

The Spark jar directory is $SPARK_HOME/jars, or else the `unmanagedBase`
directory that build.sbt names. Prints the classpath on success;
exits nonzero when the sources or the toolchain are missing.
"""
import argparse
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCE_DIRS = ("src/main/scala", "layerbench/src")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    except OSError:
        pass
    return None


def sources():
    out = []
    for d in SOURCE_DIRS:
        for base, _, files in os.walk(os.path.join(ROOT, d)):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def source_sha(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_stage(files, dest, classpath, sha):
    """Compiles `files` into `dest` unless its stamp already says `sha`."""
    stamp = dest + ".sha256"
    if os.path.isfile(stamp) and open(stamp).read().strip() == sha:
        return
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", classpath,
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + files
    r = subprocess.run(cmd, cwd=ROOT)
    if r.returncode != 0:
        sys.exit(f"layerbench build: scalac exited {r.returncode}")
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)
    with open(stamp, "w") as f:
        f.write(sha + "\n")


def build(out):
    """Compiles the engine, then the benchmark against it. Returns
    (classpath entries, source sha, Spark jar dir); exits on failure."""
    files = sources()
    engine = [f for f in files if "/src/main/scala/" in f]
    own = [f for f in files if "/layerbench/src/" in f]
    if not engine or not own:
        sys.exit("layerbench build: engine or benchmark sources missing")
    jars = spark_jars()
    if jars is None:
        sys.exit("layerbench build: no Spark jars (set SPARK_HOME)")
    engine_sha = source_sha(engine)
    sha = source_sha(files)
    engine_dir = os.path.join(out, "classes", "engine")
    bench_dir = os.path.join(out, "classes", "bench")
    os.makedirs(os.path.join(out, "classes"), exist_ok=True)
    spark_cp = os.path.join(jars, "*")
    compile_stage(engine, engine_dir, spark_cp, engine_sha)
    compile_stage(own, bench_dir, f"{engine_dir}:{spark_cp}", sha)
    return f"{engine_dir}:{bench_dir}", sha, jars


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--out", default=os.path.join(ROOT, ".bench_build"))
    classpath, _, _ = build(os.path.abspath(ap.parse_args().out))
    print(classpath)


if __name__ == "__main__":
    main()
