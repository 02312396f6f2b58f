#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources together with
the benchmark harness (perfbench/src) into .bench_build/classes.

Usage, from the root of a checkout: python3 perfbench/build.py

It calls the Scala compiler that ships with Spark (SPARK_HOME, or the Spark
install whose `spark-submit` is on PATH), so it needs only a JDK and the
Spark jars. The build is
skipped when a stamp of every source file's path and content, and of the
jar list, matches the last successful build.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")


# The module opens Spark needs on JDK 17 outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def java(classpath, work, main, *args):
    """Command that runs `main` with Spark's JVM settings, keeping every
    file Spark and the JVM write under `work` (no perf-data file in /tmp)."""
    return (["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData"]
            + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/tmp",
               f"-Dspark.sql.warehouse.dir={work}/warehouse",
               "-cp", classpath, main] + list(args))


def spark_jars():
    """Jars of SPARK_HOME, else of the first Spark install on PATH that has
    them (a pip-installed pyspark's spark-submit has none)."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
        if jars:
            return jars
    raise SystemExit("no Spark jars found; set SPARK_HOME")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    graft = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    if not graft:
        raise SystemExit(f"no graft sources under {main}: run from the root of a graft checkout")
    return graft + sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))


def build():
    """Compile if stale; return the classpath the harness runs with."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for path in srcs:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(os.path.basename(j) for j in jars).encode())
    stamp = h.hexdigest()
    classpath = os.pathsep.join([CLASSES] + jars)
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return classpath
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(jars), "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", os.pathsep.join(jars), "@" + argfile]
    print(f"compiling {len(srcs)} Scala files", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"compilation failed (exit {r.returncode})")
    with open(STAMP, "w") as f:
        f.write(stamp)
    return classpath


if __name__ == "__main__":
    build()
