"""Build file of the benchmark: compiles the engine (src/main/scala) and
the benchmark's own Scala sources (perfbench/src) into one class
directory with the Scala compiler that ships in Spark's jars.

The output goes to `.bench_build/classes` under the repository root. A
stamp over every source path and its content skips the compile when
nothing changed.

Usage: python3 perfbench/build.py
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
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")

# Spark 4 on JDK 17 outside spark-submit needs the module opens that
# spark-submit would add (the engine's build file lists the same).
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
]


# Parallel GC on a fixed heap: G1's concurrent threads made the process
# CPU time of identical runs differ by a third. No perf-data file in /tmp.
JVM_FLAGS = ["-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData"]


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the engine's own build
    file compiles against (its `unmanagedBase`)."""
    if "SPARK_HOME" in os.environ:
        where = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            found = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if not found:
            raise SystemExit("set SPARK_HOME: build.sbt names no unmanagedBase")
        where = found.group(1)
    jars = sorted(glob.glob(os.path.join(where, "*.jar")))
    if not jars:
        raise SystemExit(f"no Spark jars under {where}")
    return jars


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise SystemExit(f"engine sources not found at {engine}")
    files = []
    for top in (engine, os.path.join(HERE, "src")):
        files += sorted(glob.glob(os.path.join(top, "**", "*.scala"), recursive=True))
    return files


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile if needed; return the runtime classpath entries."""
    files = sources()
    jars = spark_jars()
    want = stamp(files)
    stamp_file = os.path.join(CLASSES, ".stamp")
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == want:
                return [CLASSES] + jars
    staging = CLASSES + ".tmp"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    cp = os.pathsep.join(jars)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", staging] + files
    done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if done.returncode != 0:
        sys.stderr.write(done.stdout[-4000:])
        raise SystemExit("compile failed")
    with open(os.path.join(staging, ".stamp"), "w") as f:
        f.write(want)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(staging, CLASSES)
    return [CLASSES] + jars


if __name__ == "__main__":
    build()
