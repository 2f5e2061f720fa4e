"""Build file of the benchmark package.

Compiles the engine (`src/main/scala`) together with the benchmark's own
Scala sources (`perfbench/src`) with the Scala compiler that ships in the
Spark jar directory, into `.bench_build/classes` under the checkout. A
stamp over every source file's path and content skips the compile when
nothing changed.

    python3 perfbench/build.py      # prints the classes directory
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_jars():
    """$SPARK_HOME/jars, else the jar directory the engine's sbt build
    compiles against (its `unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    if not m:
        raise SystemExit("build: set SPARK_HOME or run from an engine checkout")
    return m.group(1)


SPARK_JARS = _spark_jars()
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
SOURCE_DIRS = ["src/main/scala", "perfbench/src"]

# JDK 17 module opens Spark needs outside spark-submit
ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def sources():
    files = []
    for d in SOURCE_DIRS:
        full = os.path.join(ROOT, d)
        if not os.path.isdir(full):
            raise SystemExit(f"build: missing source directory {d}")
        files += glob.glob(os.path.join(full, "**", "*.scala"), recursive=True)
    return sorted(files)


def classpath():
    if not glob.glob(os.path.join(SPARK_JARS, "spark-sql_*.jar")):
        raise SystemExit(f"build: no Spark jars under {SPARK_JARS}")
    return f"{CLASSES}:{SPARK_JARS}/*"


def build():
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return CLASSES
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", f"{SPARK_JARS}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", CLASSES] + files
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac exited {r.returncode}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return CLASSES


if __name__ == "__main__":
    print(build())
