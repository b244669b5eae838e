"""Build file of the benchmark: compiles the repository's main sources
(src/main/scala) together with the benchmark harness (perfbench/scala)
with the Scala compiler that ships in Spark's jar directory, into
.bench_build/classes. Nothing is fetched; nothing is written outside
.bench_build. Re-running with unchanged sources is a no-op.

    python3 perfbench/build.py        # from the repository root
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    that build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        m = os.path.exists(sbt) and re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                                              open(sbt).read())
        if not m:
            sys.exit("build: set SPARK_HOME (no unmanagedBase in build.sbt either)")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit("build: no Spark jar directory with a Scala compiler at " + jars)
    return jars


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        sys.exit("build: run from the repository root (no src/main/scala here)")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    return files


def build():
    """Compile if the sources changed; return the runtime classpath."""
    jars = spark_jars()
    files = sources()
    res = os.path.join(ROOT, "src", "main", "resources")
    h = hashlib.sha256()
    for f in files + sorted(glob.glob(os.path.join(res, "**", "*"), recursive=True)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    stamp = os.path.join(CLASSES, ".stamp")
    digest = h.hexdigest()
    cp = CLASSES + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return cp
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    scalac = [os.path.join(jars, j) for j in os.listdir(jars)
              if j.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + BUILD,
           "-cp", os.pathsep.join(scalac), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.path.join(jars, "*"), "-d", CLASSES] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit("build: scalac failed")
    if os.path.isdir(res):
        shutil.copytree(res, CLASSES, dirs_exist_ok=True)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp


if __name__ == "__main__":
    print(build())
