"""Offline build of the engine and the benchmark's JVM side.

Compiles the engine's sources (``src/main/scala``) together with the
benchmark's own Scala files (``perfbench/scala``) in one ``scalac`` pass,
using the Scala compiler and Spark jars that ship with the Spark
installation (``$SPARK_HOME/jars``, or the ``jars`` directory beside
``spark-submit`` on ``PATH``). Nothing is downloaded.

The classes land in ``.bench_build/classes`` under the checkout root, keyed
by a hash of every source file, so an unchanged tree builds once.

Usage: ``python3 perfbench/build.py`` (prints the runtime classpath).
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
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "scala")
BENCH_RES = os.path.join(HERE, "resources")

# JDK 17 module opens Spark needs outside spark-submit (the engine's
# build.sbt passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("no Spark installation with a Scala compiler found "
                         "(set SPARK_HOME)")
    return jars


def sources():
    if not os.path.isdir(ENGINE_SRC):
        raise BuildError(f"engine sources not found at {ENGINE_SRC}")
    files = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(BENCH_SRC, "**", "*.scala"), recursive=True))
    return files


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(log=sys.stderr):
    """Compile if needed; return the runtime classpath."""
    jars = spark_jars()
    files = sources()
    stamp = source_hash(files)
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    fresh = os.path.exists(stamp_file) and open(stamp_file).read() == stamp
    if not fresh:
        print(f"building {len(files)} Scala files into {classes}", file=log, flush=True)
        shutil.rmtree(classes, ignore_errors=True)
        os.makedirs(classes)
        if os.path.exists(stamp_file):
            os.remove(stamp_file)
        argfile = os.path.join(BUILD, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(files))
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
               "scala.tools.nsc.Main", "-usejavacp", "-classpath", classes, "-nowarn",
               "-d", classes, "@" + argfile]
        res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                             text=True, timeout=840)
        if res.returncode != 0:
            raise BuildError("scalac failed:\n" + res.stdout[-4000:])
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return os.pathsep.join([classes, ENGINE_RES, BENCH_RES, os.path.join(jars, "*")])


def java_command(classpath, heap, tmpdir):
    log4j = os.path.join(BENCH_RES, "log4j2.properties")
    opts = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    return ["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseParallelGC", *opts,
            f"-Djava.io.tmpdir={tmpdir}",
            f"-Dlog4j2.configurationFile={log4j}",
            "-Dspark.ui.enabled=false",
            "-cp", classpath]


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
