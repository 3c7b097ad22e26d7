"""Build file of the benchmark: compiles graft (src/main/scala) together
with the benchmark's own Scala sources (perfbench/src) with the Scala
compiler shipped among the Spark jars, into a class directory keyed on a
digest of every source file. A directory that already exists for the
digest is reused, so only the first run in a checkout compiles.

    python3 perfbench/build.py        # prints the class directory
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if "SPARK_HOME" in os.environ:
        d = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as fh:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        except OSError:
            m = None
        if m is None:
            raise SystemExit("build: set SPARK_HOME; build.sbt names no unmanagedBase")
        d = m.group(1)
    jars = sorted(glob.glob(os.path.join(d, "*.jar")))
    if not jars:
        raise SystemExit(f"build: no Spark jars under {d} (set SPARK_HOME)")
    return jars


def sources():
    if not os.path.isdir(GRAFT_SRC):
        raise SystemExit(f"build: graft sources missing: {GRAFT_SRC}")
    files = []
    for base in (GRAFT_SRC, BENCH_SRC):
        for dirpath, _, names in os.walk(base):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def digest(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    for j in jars:
        h.update(os.path.basename(j).encode())
    return h.hexdigest()[:16]


def build():
    """Returns (class directory, source digest, seconds spent compiling)."""
    jars, files = spark_jars(), sources()
    d = digest(files, jars)
    classes = os.path.join(build_dir(), f"classes-{d}")
    if os.path.exists(os.path.join(classes, "BUILD_OK")):
        return classes, d, 0.0
    t0 = time.monotonic()
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss16m", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.pathsep.join(jars), "@" + argfile]
    p = subprocess.run(cmd, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit(f"build: scalac failed with exit code {p.returncode}")
    os.remove(argfile)
    open(os.path.join(tmp, "BUILD_OK"), "w").close()
    shutil.rmtree(classes, ignore_errors=True)
    os.replace(tmp, classes)
    return classes, d, time.monotonic() - t0


if __name__ == "__main__":
    print(build()[0])
