"""Build the program and the benchmark from source.

Compiles the program's sources (`src/main/scala` of the checkout) and
the benchmark's (`perfbench/src`) in one scalac pass, with the Scala
compiler and the Spark jars of the Spark distribution (`$SPARK_HOME`,
or the jars directory the program's `build.sbt` names). The classes go to
`.bench_build/classes`; a stamp of the sources' hash skips the compile
when nothing changed.

Usage: python3 perfbench/build.py   (from the root of the checkout)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "stamp")


def spark_jars() -> str:
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    # Else the jars directory the program's own sbt build names.
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  open(os.path.join(ROOT, "build.sbt")).read())
    if not m:
        raise RuntimeError("no Spark distribution: set SPARK_HOME")
    return m.group(1)


def classpath() -> str:
    """Runtime classpath: the benchmark's log config first, then the classes."""
    return os.pathsep.join([os.path.join(HERE, "resources"), CLASSES,
                            os.path.join(spark_jars(), "*")])


def _sources() -> list:
    files = []
    for d in SOURCES:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(timeout: float = 840) -> None:
    """Compile if the sources changed; raise on any failure."""
    if not os.path.isdir(SOURCES[0]):
        raise RuntimeError(f"program sources missing: {SOURCES[0]}")
    files = _sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    jars = os.path.join(spark_jars(), "*")
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-encoding", "UTF-8", "-nowarn", "-d", CLASSES, "-classpath", jars,
           "@" + argfile]
    subprocess.run(cmd, check=True, timeout=timeout, stdout=sys.stderr)
    with open(STAMP, "w") as fh:
        fh.write(stamp)


if __name__ == "__main__":
    build()
