"""Build file of the benchmark: compiles the program and the harness.

The program's Scala sources (`src/main/scala`) and the harness
(`perfbench/src`) are compiled together by the Scala compiler that ships
with the Spark distribution, into `.bench_build/classes` of the checkout;
`src/main/resources` is copied beside them. No build tool, no dependency
resolution and nothing outside the checkout is written. A stamp of every
source file's path, size and content hash skips the compile when nothing
changed.

    python3 perfbench/build.py          # build (or confirm up to date)
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "src", "main", "resources"),
               os.path.join(ROOT, "perfbench", "src")]


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark jar directory the project builds against: $SPARK_HOME/jars,
    else the `unmanagedBase` line of the project's build.sbt."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark jar directory: set SPARK_HOME")


def classpath():
    return os.path.join(spark_jars(), "*")


def _files(d):
    for base, _, names in os.walk(d):
        for n in sorted(names):
            yield os.path.join(base, n)


def _stamp():
    h = hashlib.sha256()
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise BuildError(f"missing source directory {os.path.relpath(d, ROOT)}")
        for f in sorted(_files(d)):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile if the sources changed; returns the runtime classpath."""
    stamp = _stamp()
    cp = classpath()
    if os.path.isfile(STAMP) and open(STAMP).read() == stamp:
        return CLASSES + os.pathsep + cp
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    sources = [f for d in SOURCE_DIRS[0::2] for f in _files(d)
               if f.endswith(".scala")]
    print(f"[perfbench] compiling {len(sources)} Scala files", file=log,
          flush=True)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(sources))
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-cp", cp,
         "scala.tools.nsc.Main", "-nowarn", "-classpath", cp,
         "-d", CLASSES, "@" + argfile],
        stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError(f"scalac exited {r.returncode}")
    res = SOURCE_DIRS[1]
    for f in _files(res):
        dst = os.path.join(CLASSES, os.path.relpath(f, res))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return CLASSES + os.pathsep + cp


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(1)
