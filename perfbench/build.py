"""Build file of the benchmark: compiles the program (src/main/scala and its
resources) and the benchmark's own Scala sources (perfbench/src) with the
Scala compiler that ships in the Spark distribution, into .bench_build/ at
the repo root.

    python3 perfbench/build.py        # build if any source changed

Only the Spark jars are read from outside the repo; nothing is written
outside it. A stamp over every source file's path and content skips the
build when nothing changed; a lock serialises concurrent builds.
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else the directory the
    repo's build.sbt takes its Spark jars from (`unmanagedBase`)."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            candidates.append(m.group(1))
    for jars in candidates:
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("build: no Spark distribution with a Scala compiler found (set SPARK_HOME)")


RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def sources():
    dirs = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(ROOT, "perfbench", "src")]
    for d in dirs:
        if not os.path.isdir(d):
            raise SystemExit(f"build: source directory {os.path.relpath(d, ROOT)} is missing")
    return sorted(f for d in dirs for f in glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def resources():
    return sorted(f for f in glob.glob(os.path.join(RESOURCES, "**", "*"), recursive=True)
                  if os.path.isfile(f))


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Returns the classpath to run the benchmark with."""
    jars = spark_jars()
    files = sources()
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        want = stamp(files + resources())
        stamp_file = os.path.join(BUILD, "stamp")
        have = open(stamp_file).read() if os.path.exists(stamp_file) else ""
        if have != want or not os.path.isdir(CLASSES):
            tmp = CLASSES + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            os.makedirs(tmp)
            java = shutil.which("java") or sys.exit("build: java not found")
            cmd = [java, "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
                   "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + files
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
            if r.returncode != 0:
                shutil.rmtree(tmp, ignore_errors=True)
                sys.stderr.write(r.stdout[-6000:])
                raise SystemExit(f"build: scalac failed with code {r.returncode}")
            for f in resources():
                dst = os.path.join(tmp, os.path.relpath(f, RESOURCES))
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                shutil.copyfile(f, dst)
            shutil.rmtree(CLASSES, ignore_errors=True)
            os.rename(tmp, CLASSES)
            with open(stamp_file, "w") as fh:
                fh.write(want)
    return CLASSES + os.pathsep + os.path.join(jars, "*")


if __name__ == "__main__":
    print(build())
