#!/usr/bin/env python3
"""Build file of the serving benchmark.

Compiles the library (`src/main/scala`) and then the benchmark's own
sources (`servebench/src`) with the Scala compiler that ships in the Spark
distribution's `jars/` directory (`$SPARK_HOME`, else the distribution of
the `spark-submit` on the PATH), into `<build dir>/servebench/`. The build
dir is `$CARGO_TARGET_DIR` when set, else `.bench_build`, relative to the
repository root. Each step keeps a stamp of its inputs' hash and is skipped
when they did not change.

Usage: python3 servebench/build.py            (from the repository root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys


class BuildError(Exception):
    pass


def spark_jars():
    """`jars/` of the Spark distribution: `$SPARK_HOME`, else the first
    distribution whose `bin/spark-submit` is on the PATH."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep) if d]
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return os.path.join(home, "jars")
    raise BuildError("no Spark distribution with a Scala compiler: set SPARK_HOME")


def scala_sources(root, rel):
    found = sorted(glob.glob(os.path.join(root, rel, "**", "*.scala"), recursive=True))
    if not found:
        raise BuildError(f"no Scala sources under {os.path.join(root, rel)}")
    return found


def compile_step(root, build_dir, name, srcs, classpath, salt):
    """Compiles `srcs` into `<build_dir>/<name>` unless the stamp matches;
    returns (classes dir, stamp)."""
    digest = hashlib.sha256(salt.encode())
    for path in srcs:
        digest.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    classes = os.path.join(build_dir, name)
    stamp_file = classes + ".stamp"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, stamp
    fresh = classes + ".new"
    shutil.rmtree(fresh, ignore_errors=True)
    os.makedirs(fresh)
    argfile = classes + ".sources"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    print(f"[servebench] compiling {len(srcs)} {name} sources", file=sys.stderr, flush=True)
    proc = subprocess.run(
        ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(), "*"),
         "scala.tools.nsc.Main", "-nowarn", "-d", fresh, "-classpath", classpath,
         "@" + argfile],
        stdout=sys.stderr, stderr=sys.stderr)
    if proc.returncode != 0:
        raise BuildError(f"scalac failed on the {name} sources (exit {proc.returncode})")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(fresh, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes, stamp


def ensure_built(root):
    """Returns the classpath to run the benchmark with, compiling first
    whatever changed since the last build."""
    jars = os.path.join(spark_jars(), "*")
    lib_srcs = scala_sources(root, "src/main/scala")
    bench_srcs = scala_sources(root, "servebench/src")
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                             "servebench")
    os.makedirs(build_dir, exist_ok=True)
    lib, lib_stamp = compile_step(root, build_dir, "library", lib_srcs, jars,
                                  " ".join(sorted(os.listdir(os.path.dirname(jars)))))
    lib_cp = lib + os.pathsep + jars
    bench, _ = compile_step(root, build_dir, "bench", bench_srcs, lib_cp, lib_stamp)
    return bench + os.pathsep + lib_cp


if __name__ == "__main__":
    try:
        print(ensure_built(os.getcwd()))
    except BuildError as e:
        print(f"[servebench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
