#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's sources
(src/main/scala) together with the harness (perfbench/src) using the
Scala compiler that ships in the Spark distribution, so no build tool
and no network is needed. Classes go to .bench_build/perfbench/classes
and are rebuilt only when a source file changes.

Spark is found through $SPARK_HOME, or else through `spark-submit` on
the PATH.

Usage: python3 perfbench/build.py   (from the root of the repository)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD = os.path.join(".bench_build", "perfbench")
CLASSES = os.path.join(BUILD, "classes")
SOURCES = ["src/main/scala", "perfbench/src"]

# what `sbt run` adds for Spark 4 on JDK 17 (build.sbt's jdk17AddOpens)
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


class BuildError(Exception):
    pass


def spark_jars() -> str:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("no Spark distribution: set SPARK_HOME")
    return jars


def sources() -> list:
    files = []
    for d in SOURCES:
        if not os.path.isdir(d):
            raise BuildError(f"missing source directory {d}")
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def build() -> str:
    """Compiles if needed; returns the runtime classpath."""
    jars = spark_jars()
    all_jars = sorted(glob.glob(os.path.join(jars, "*.jar")))
    files = sources()
    h = hashlib.sha256()
    for f in files + all_jars:
        h.update(f.encode())
        if f.endswith(".scala"):
            with open(f, "rb") as fh:
                h.update(fh.read())
    stamp = os.path.join(BUILD, "classes.sha256")
    runtime_cp = os.path.abspath(CLASSES) + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return runtime_cp
    compiler = [j for j in all_jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        raise BuildError("no Scala 2.13 compiler among the Spark jars")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(["-nowarn", "-d", CLASSES, "-classpath",
                           os.pathsep.join(all_jars)] + files) + "\n")
    r = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
         "scala.tools.nsc.Main", "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return runtime_cp


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(str(e))
