#!/usr/bin/env python3
"""Build the benchmark: compile graft's main sources and the benchmark's
Scala sources into one jar with the Scala compiler that ships in the
Spark distribution, then record a class-data-sharing archive of the
classes a short run loads, so each benchmark JVM starts without parsing
and verifying Spark's classes again.

    python3 benchmark/build.py        # prints the jar

The build is skipped when a stamp of every source file's content (and
the Spark jar names) matches the last build.
"""
import contextlib
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "benchmark"
BUILD = ROOT / ".bench_build"
JAR = BUILD / "graftbench.jar"
CDS = BUILD / "graftbench.jsa"
STAMP = BUILD / "graftbench.stamp"


def spark_jars() -> Path:
    """`$SPARK_HOME/jars`, else the jar directory graft's own build.sbt
    compiles against (its `unmanagedBase`)."""
    if "SPARK_HOME" in os.environ:
        return Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = ROOT / "build.sbt"
    found = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.is_file() else None
    if not found:
        raise SystemExit("build: set SPARK_HOME (no Spark jar directory in build.sbt)")
    return Path(found.group(1))


def sources() -> list:
    graft = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    bench = sorted((BENCH / "src").rglob("*.scala"))
    if not graft:
        raise SystemExit("build: no graft sources under src/main/scala")
    if not bench:
        raise SystemExit("build: no benchmark sources under benchmark/src")
    return graft + bench


def compiler_jars() -> list:
    jars = [glob.glob(str(spark_jars() / f"scala-{name}-2.13*.jar"))
            for name in ("compiler", "library", "reflect")]
    if not all(jars):
        raise SystemExit(f"build: no Scala 2.13 compiler jars in {spark_jars()}")
    return [sorted(j)[-1] for j in jars]


def stamp(files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    for j in sorted(os.listdir(spark_jars())):
        h.update(j.encode())
    return h.hexdigest()


@contextlib.contextmanager
def lock():
    """Serializes builds of one checkout."""
    BUILD.mkdir(parents=True, exist_ok=True)
    with open(BUILD / "build.lock", "w") as f:
        fcntl.flock(f, fcntl.LOCK_EX)
        yield


def classpath() -> str:
    return os.pathsep.join([str(JAR), str(spark_jars() / "*")])


def build() -> Path:
    """Compile into the jar when the sources changed."""
    files = sources()
    want = stamp(files)
    if JAR.is_file() and STAMP.is_file() and STAMP.read_text() == want:
        return JAR
    BUILD.mkdir(parents=True, exist_ok=True)
    for f in (STAMP, JAR, CDS):
        f.unlink(missing_ok=True)
    classes = BUILD / "classes"
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler_jars()),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(classes),
           "-classpath", str(spark_jars() / "*")] + [str(f) for f in files]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True, timeout=800)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-8000:])
        raise SystemExit(f"build: scalac exited with {res.returncode}")
    # Class-data sharing reads classes from jars only.
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_DEFLATED) as jar:
        for f in sorted(classes.rglob("*.class")):
            jar.write(f, f.relative_to(classes).as_posix())
    shutil.rmtree(classes, ignore_errors=True)
    STAMP.write_text(want)
    return JAR




if __name__ == "__main__":
    with lock():
        print(build())
