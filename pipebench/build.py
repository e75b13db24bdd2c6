"""Build file of the pipeline benchmark.

Compiles the library (`src/main/scala` of the repository) together with
the benchmark's own sources (`pipebench/src`) into one class directory,
using the Scala compiler that ships with Spark. Nothing is resolved or
downloaded: the Spark distribution the project builds against provides
the compiler and every runtime jar.

    python3 pipebench/build.py            # build if sources changed
    python3 pipebench/build.py --force    # rebuild
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build", "pipebench")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the project's
    `unmanagedBase`, else the jars bundled with pyspark."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            cands.append(m.group(1))
    try:
        import pyspark
        cands.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for c in cands:
        if os.path.isdir(c) and any(f.startswith("scala-compiler") for f in os.listdir(c)):
            return c
    raise SystemExit("pipebench: no Spark jar directory with a Scala compiler found "
                     "(set SPARK_HOME)")


def sources():
    files = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def stamp(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def classpath():
    """Runtime classpath: the compiled classes, the library's resources
    and the Spark jars."""
    return os.pathsep.join([CLASSES, os.path.join(ROOT, "src", "main", "resources"),
                            os.path.join(spark_jars(), "*")])


def ensure_built(force=False):
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("pipebench: library sources (src/main/scala) not found")
    jars = spark_jars()
    files = sources()
    want = stamp(files, jars)
    if not force and os.path.exists(STAMP) and open(STAMP).read().strip() == want \
            and os.path.isdir(CLASSES):
        return
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jcp = os.path.join(jars, "*")
    cmd = ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", "-cp", jcp, "scala.tools.nsc.Main",
           "-nowarn", "-encoding", "UTF-8", "-d", tmp, "-classpath", jcp] + files
    print(f"pipebench: compiling {len(files)} sources", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"pipebench: compilation failed ({r.returncode})")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as fh:
        fh.write(want + "\n")


if __name__ == "__main__":
    ensure_built(force="--force" in sys.argv[1:])
