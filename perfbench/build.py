"""Build file of the benchmark: compiles the engine (`src/main`) together
with the harness (`perfbench/src`) with the Scala compiler that ships in
Spark's jar directory, into a content-addressed class directory.

    python3 perfbench/build.py            # prints the class directory

The Spark jar directory is `$SPARK_HOME/jars`, or else the
`unmanagedBase` the repository's `build.sbt` names. A build whose sources
are unchanged is reused; a new one is staged and renamed into place.
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


def read_bytes(path):
    with open(path, "rb") as f:
        return f.read()


def touch(path):
    with open(path, "w"):
        pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', read_bytes(sbt).decode())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("perfbench: no Spark jar directory (set SPARK_HOME)")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "**", "*.scala"), recursive=True))
    if not main:
        raise SystemExit("perfbench: no engine sources under src/main")
    return main + sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))


def build():
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for j in sorted(os.listdir(jars)):
        h.update(j.encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        h.update(read_bytes(s))
    dest = os.path.join(BUILD_DIR, "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(dest, ".done")):
        return dest
    os.makedirs(BUILD_DIR, exist_ok=True)
    stage = os.path.join(BUILD_DIR, f".stage-{os.getpid()}")
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)
    compiler = ":".join(glob.glob(os.path.join(jars, f"scala-{p}-2.13*.jar"))[0]
                        for p in ("compiler", "library", "reflect"))
    r = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", compiler, "scala.tools.nsc.Main",
         "-nowarn", "-d", stage, "-cp", os.path.join(jars, "*")] + srcs,
        stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(stage, ignore_errors=True)
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    touch(os.path.join(stage, ".done"))
    try:
        os.rename(stage, dest)
    except OSError:
        shutil.rmtree(stage, ignore_errors=True)
    for old in glob.glob(os.path.join(BUILD_DIR, "classes-*")):
        if old != dest:
            shutil.rmtree(old, ignore_errors=True)
    return dest


if __name__ == "__main__":
    print(build())
