#!/usr/bin/env python3
"""The benchmark's build: compiles the engine sources (src/main/scala)
and the harness (olapbench/src/main/scala) with the Scala compiler that
ships among Spark's jars, against those same jars.

Usage (from the repository root):
    python3 olapbench/build.py       # prints the harness classpath

Everything the build writes is under .bench_build/olapbench/, keyed by a
digest of the sources: a second call with unchanged sources compiles
nothing. It needs only `java` and a Spark distribution ($SPARK_HOME,
default /opt/spark) whose jars hold scala-compiler; no sbt, no network
and nothing under the home directory.
"""
import glob
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "olapbench")
CLASSES = os.path.join(BUILD, "classes")
SOURCE_DIRS = (os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(HERE, "src", "main", "scala"))
LIMIT_S = 850


class BuildError(Exception):
    pass


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the group and
    wait for it, so nothing outlives the caller."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    return p.returncode, out, err


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no scala-compiler jar under {jars}")
    return jars


def sources():
    files = []
    for base in SOURCE_DIRS:
        files += sorted(glob.glob(os.path.join(base, "**", "*.scala"),
                                  recursive=True))
    return files


def digest(files):
    """Sources by their path relative to the root, so a moved checkout
    keeps its build."""
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(timeout=LIMIT_S):
    """Compile unless these sources were already built; return the
    runtime classpath."""
    jars = spark_jars()
    classpath = os.pathsep.join([CLASSES, os.path.join(jars, "*")])
    files = sources()
    want = digest(files)
    stamp = os.path.join(BUILD, "build.stamp")
    if (os.path.isdir(CLASSES) and os.path.exists(stamp)
            and open(stamp).read() == want):
        return classpath
    os.makedirs(BUILD, exist_ok=True)
    staging = CLASSES + ".new"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    args = os.path.join(BUILD, "scalac.args")
    with open(args, "w") as f:
        f.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={BUILD}",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", staging, f"@{args}"]
    try:
        code, out, err = run_group(cmd, timeout, cwd=ROOT,
                                   stdout=subprocess.PIPE,
                                   stderr=subprocess.PIPE, text=True)
    except subprocess.TimeoutExpired:
        raise BuildError("compile timed out")
    if code != 0:
        raise BuildError(f"compile failed:\n{(out + err)[-4000:]}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(staging, CLASSES)
    with open(stamp, "w") as f:
        f.write(want)
    return classpath


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"olapbench: {e}")
