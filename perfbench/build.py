"""Build file of the benchmark: compiles the engine's main sources
(`src/main/scala`) together with the benchmark's own Scala sources
(`perfbench/src`) with the Scala compiler that ships in Spark's jar
directory, into `.perfbench/build/classes` under the repo root. A build
is skipped when the sources are unchanged since the last one.

Usage: python3 perfbench/build.py   (from the repo root)
"""
import glob
import hashlib
import importlib.util
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
OUT = os.path.join(WORK, "build", "classes")
STAMP = os.path.join(WORK, "build", "stamp")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else that of the `spark-submit`
    on PATH, else the one inside the `pyspark` package."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    if shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
        cands.append(os.path.join(home, "jars"))
    spec = importlib.util.find_spec("pyspark")
    if spec and spec.submodule_search_locations:
        cands.append(os.path.join(spec.submodule_search_locations[0], "jars"))
    found = [c for c in cands if glob.glob(os.path.join(c, "scala-compiler-*.jar"))]
    return found[0] if found else (cands[0] if cands else "jars")


SPARK_JARS = spark_jars()


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench/src/**/*.scala"), recursive=True))
    if not main:
        raise SystemExit("build: no engine sources under src/main/scala "
                         "(run from a full checkout of the repository)")
    return main + bench


def classpath():
    """Runtime classpath: compiled classes, engine resources, Spark jars."""
    return os.pathsep.join([OUT, os.path.join(ROOT, "src/main/resources"),
                            os.path.join(SPARK_JARS, "*")])


def digest(files):
    h = hashlib.sha256()
    for f in files + sorted(glob.glob(os.path.join(ROOT, "src/main/resources/**/*"),
                                      recursive=True)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(log=sys.stderr):
    files = sources()
    if not os.path.isdir(SPARK_JARS):
        raise SystemExit(f"build: Spark jars not found at {SPARK_JARS!r}; set SPARK_HOME")
    d = digest(files)
    if os.path.exists(STAMP) and open(STAMP).read() == d and os.path.isdir(OUT):
        return d
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(OUT)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           "-cp", os.path.join(SPARK_JARS, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", OUT, "-classpath", os.path.join(SPARK_JARS, "*")] + files
    print(f"build: compiling {len(files)} Scala files", file=log)
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=log)
        raise SystemExit("build: scalac failed")
    with open(STAMP, "w") as f:
        f.write(d)
    return d


if __name__ == "__main__":
    print(build())
