"""Build file of the benchmark package.

Compiles the library sources (src/main/scala) together with the
benchmark's own sources (perfbench/src) into perfbench/.build/classes with
the Scala compiler that ships in Spark's jar directory, so a build writes
nothing outside the checkout and needs no build tool or network. A content
stamp skips the compile when no source changed.

    python3 perfbench/build.py          # build if needed, print the classpath
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
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
OUT = os.path.join(HERE, ".build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "stamp")


class BuildError(Exception):
    pass


def spark_jars():
    """Jars of the Spark install the library builds against: $SPARK_HOME/jars,
    else the `unmanagedBase` directory the project's build.sbt names."""
    dirs = []
    if os.environ.get("SPARK_HOME"):
        dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            dirs.append(m.group(1))
    for d in dirs:
        if glob.glob(os.path.join(d, "spark-sql_*.jar")):
            return sorted(glob.glob(os.path.join(d, "*.jar")))
    raise BuildError("no Spark jars found (set SPARK_HOME)")


def sources():
    if not os.path.isdir(LIB_SRC):
        raise BuildError(f"library sources not found at {os.path.relpath(LIB_SRC, ROOT)}")
    files = []
    for base in (LIB_SRC, BENCH_SRC):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def stamp(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(os.path.basename(j) for j in jars).encode())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compiles if any source changed; returns the runtime classpath."""
    jars = spark_jars()
    files = sources()
    want = stamp(files, jars)
    cp = [CLASSES] + jars
    if os.path.exists(STAMP) and open(STAMP).read() == want:
        return cp
    compiler = [j for j in jars if os.path.basename(j).startswith(("scala-compiler", "scala-library", "scala-reflect"))]
    if len(compiler) < 3:
        raise BuildError("scala-compiler, scala-library and scala-reflect jars are required")
    if os.path.exists(STAMP):
        os.remove(STAMP)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES, exist_ok=True)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    print(f"[perfbench] compiling {len(files)} sources", file=log, flush=True)
    cmd = ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
           "-classpath", os.pathsep.join(jars), "@" + argfile]
    res = subprocess.run(cmd, stdout=log, stderr=log)
    if res.returncode != 0:
        raise BuildError(f"scalac exited with {res.returncode}")
    with open(STAMP, "w") as fh:
        fh.write(want)
    return cp


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build()))
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
