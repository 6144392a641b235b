"""Builds graft and the benchmark harness from source with scalac.

The Spark jar directory (which also holds the Scala compiler) is read from
the repository's own `build.sbt` (`unmanagedBase := file("...")`), so the
benchmark compiles against exactly what the project builds with. The output
is keyed by a hash of every source file: a changed source gives a fresh
build, an unchanged tree reuses the last one.

Usage as a script: python3 perfbench/build.py   (prints the class directory)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def spark_jars(root=ROOT):
    sbt = os.path.join(root, "build.sbt")
    if not os.path.isfile(sbt):
        raise BuildError(f"no build.sbt at {root}: not a graft checkout")
    with open(sbt) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not glob.glob(os.path.join(m.group(1), "spark-core_*.jar")):
        raise BuildError("build.sbt names no Spark jar directory (unmanagedBase)")
    return m.group(1)


def sources(root=ROOT):
    main = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not main:
        raise BuildError(f"no Scala sources under {root}/src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))


def ensure(root=ROOT, log=sys.stderr):
    """Compile if needed; return (class_dir, spark_jar_dir)."""
    jars = spark_jars(root)
    srcs = sources(root)
    h = hashlib.sha256(jars.encode())
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD_DIR, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".done")):
        return out, jars
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp", "-d", tmp] + srcs
    print(f"build: compiling {len(srcs)} sources", file=log, flush=True)
    res = subprocess.run(cmd, stdout=log, stderr=log, timeout=840)
    if res.returncode != 0:
        raise BuildError(f"scalac exited with {res.returncode}")
    open(os.path.join(tmp, ".done"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    for stale in glob.glob(os.path.join(BUILD_DIR, "classes-*")):
        if stale != out:
            shutil.rmtree(stale, ignore_errors=True)
    return out, jars


if __name__ == "__main__":
    print(ensure()[0])
