"""Build file of the benchmark package: compiles the engine (`src/main/scala`
of the checkout) together with the harness (`perfbench/src`) into
`.bench_build/perfbench/classes` with the Scala compiler that ships in the
Spark distribution, so the benchmark needs neither sbt nor a network.

A stamp (hash of every source path and content) skips the compile when
nothing changed.  Run directly to build: `python3 perfbench/build.py`.
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")


def spark_jars():
    """`$SPARK_HOME/jars`, else the `jars` beside the first `bin/spark-submit`
    on PATH that has one (a pip-installed pyspark's script has none)."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    raise SystemExit("perfbench: no Spark distribution found (set SPARK_HOME)")


def sources():
    dirs = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    for d in dirs:
        if not os.path.isdir(d):
            raise SystemExit(f"perfbench: source dir {os.path.relpath(d, ROOT)} missing")
    found = sorted(os.path.join(r, f) for d in dirs for r, _, fs in os.walk(d)
                   for f in fs if f.endswith(".scala"))
    if not any(f.startswith(dirs[0]) for f in found):
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    return found


def build():
    """Compile if stale; returns the classpath for the harness JVM."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    digest = h.hexdigest()
    cp = f"{CLASSES}{os.pathsep}{jars}/*"
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return cp
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", CLASSES, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"perfbench: compile failed (exit {r.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(digest)
    return cp


if __name__ == "__main__":
    print(build())
