"""Build file of the serving benchmark.

Compiles the program (`src/main/scala`) together with the benchmark's
server harness (`perfbench/server`) with the Scala compiler that ships in
Spark's jar directory (`$SPARK_HOME/jars`), into
`.bench_build/perfbench/classes`. A build is reused only when the hash of
every source file matches the one it was built from.

    python3 perfbench/build.py        # from the repository root
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
SOURCE_DIRS = ("src/main/scala", "perfbench/server")


class BuildError(Exception):
    pass


def spark_jars():
    """The jar directory of a Spark distribution that ships the Scala
    compiler: `$SPARK_HOME`, else one whose `bin/spark-submit` is on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")]
    homes += [os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(":")
              if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise BuildError("no Spark distribution with a Scala compiler (set SPARK_HOME)")


def sources():
    found = []
    for rel in SOURCE_DIRS:
        base = os.path.join(ROOT, rel)
        if not os.path.isdir(base):
            raise BuildError(f"missing source directory {rel}")
        for dirpath, _, files in os.walk(base):
            found += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Returns (classes_dir, source_hash), compiling only when stale."""
    files = sources()
    digest = source_hash(files)
    classes = os.path.join(OUT, "classes")
    stamp = os.path.join(OUT, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                return classes, digest
    os.makedirs(OUT, exist_ok=True)
    staging = classes + ".staging"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", staging, "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise BuildError("scalac failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(staging, classes)
    with open(stamp, "w") as fh:
        fh.write(digest + "\n")
    return classes, digest


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        sys.exit(f"build failed: {e}")
