"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark's own Scala sources (perfbench/src) into one class directory with
the Scala compiler that ships in the Spark distribution. No sbt, no network,
nothing written outside the build directory.

    python3 perfbench/build.py        # from the repository root

A source digest stamps the output, so an unchanged tree is not rebuilt.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")


def spark_jars():
    """jars/ of the Spark distribution the engine builds against: SPARK_HOME,
    else the first distribution whose bin/spark-submit is on PATH."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return os.path.join(home, "jars")
    sys.exit("perfbench build: no Spark distribution with a Scala compiler "
             "(set SPARK_HOME)")


def sources():
    if not os.path.isdir(ENGINE_SRC):
        sys.exit(f"perfbench build: engine sources not found at {ENGINE_SRC}")
    files = []
    for d in (ENGINE_SRC, BENCH_SRC):
        for dirpath, _, names in os.walk(d):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Runtime classpath: compiled classes, engine resources, Spark jars."""
    return os.pathsep.join([CLASSES, ENGINE_RES, os.path.join(spark_jars(), "*")])


def build(log=sys.stderr):
    files = sources()
    stamp = digest(files)
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    jars = os.path.join(spark_jars(), "*")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", jars,
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES, "-classpath", jars,
           "@" + argfile]
    print(f"perfbench build: compiling {len(files)} Scala files", file=log)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        sys.exit(f"perfbench build: scalac failed ({r.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(stamp)


if __name__ == "__main__":
    build()
