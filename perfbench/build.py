#!/usr/bin/env python3
"""Build file of the graft benchmark.

Compiles graft's main sources (`src/main/scala`, plus its resources)
together with the benchmark's own sources (`perfbench/src`) into one
class directory with the Scala compiler that ships in Spark's jar
directory (`$SPARK_HOME/jars`). No build tool and no network are
needed. The output goes to `$CARGO_TARGET_DIR` (default `.bench_build`)
under the checkout, stamped with a hash of every input, so a second
call with unchanged sources does nothing.

Usage, from the root of a checkout:  python3 perfbench/build.py
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCE_DIRS = ["src/main/scala", "perfbench/src"]
RESOURCE_DIR = "src/main/resources"
SCALAC_OPTS = ["-nowarn", "-encoding", "UTF-8"]


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("build: SPARK_HOME must name a Spark 4 install with a jars/ directory")
    return os.path.join(home, "jars")


def inputs():
    """Every source and resource file, as paths relative to the root."""
    found = []
    for d in SOURCE_DIRS + [RESOURCE_DIR]:
        base = os.path.join(ROOT, d)
        if not os.path.isdir(base):
            raise SystemExit(f"build: missing source directory {d}")
        for dirpath, _, files in os.walk(base):
            found += [os.path.relpath(os.path.join(dirpath, f), ROOT) for f in files]
    return sorted(found)


def stamp(files):
    h = hashlib.sha256(" ".join(SCALAC_OPTS).encode())
    for f in files:
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classes_dir():
    """Compile if needed; return the class directory. Concurrent callers
    wait on a lock file, and the second finds the build done."""
    os.makedirs(build_dir(), exist_ok=True)
    with open(os.path.join(build_dir(), "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return _classes_dir()


def _classes_dir():
    files = inputs()
    want = stamp(files)
    out = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(build_dir(), "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want and os.path.isdir(out):
        return out
    jars = spark_jars()
    staging = out + ".staging"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    sources = [os.path.join(ROOT, f) for f in files if f.endswith(".scala")]
    argfile = os.path.join(build_dir(), "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(sources) + "\n")
    t0 = time.time()
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-d", staging] + SCALAC_OPTS + ["@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout)
        raise SystemExit(f"build: scalac failed with exit code {proc.returncode}")
    res = os.path.join(ROOT, RESOURCE_DIR)
    shutil.copytree(res, staging, dirs_exist_ok=True)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(staging, out)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    sys.stderr.write(f"build: compiled {len(sources)} sources in {time.time() - t0:.1f} s\n")
    return out


if __name__ == "__main__":
    print(classes_dir())
