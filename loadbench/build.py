"""Build file of the benchmark: compiles the engine's sources and the
benchmark's own Scala sources with the Scala compiler that ships with
Spark, into `.bench_build/classes` at the repository root.

    python3 loadbench/build.py          # build (no-op when up to date)

The build is skipped when a stamp of every source file's path and bytes
matches the last successful build."""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

# Spark on JDK 17 outside spark-submit needs these (the engine's build.sbt
# passes the same list to its forked JVMs).
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


HEAP = "2g"
# without it every JVM writes an hsperfdata file into the system temp dir,
# outside the checkout
NO_PERF_DATA = "-XX:-UsePerfData"


def jvm_flags(tmp_dir):
    """Flags of every benchmark JVM."""
    return ([f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=256m", NO_PERF_DATA,
             f"-Djava.io.tmpdir={tmp_dir}"] + ADD_OPENS)


def classpath(classes):
    return classes + os.pathsep + os.path.join(spark_jars(), "*")


def spark_jars():
    """Directory of the Spark jars, under SPARK_HOME."""
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit(f"loadbench: no Spark jars under {jars} (set SPARK_HOME)")
    return jars


def sources(root):
    engine = os.path.join(root, "src", "main", "scala")
    if not os.path.isfile(os.path.join(engine, "graft", "SparkEntry.scala")):
        raise FileNotFoundError(f"engine sources not found under {engine}")
    files = glob.glob(os.path.join(engine, "**", "*.scala"), recursive=True)
    files += glob.glob(os.path.join(HERE, "scala", "*.scala"))
    return sorted(files)


def build(root):
    """Compile if needed; returns the classes directory."""
    out = os.path.join(root, ".bench_build")
    classes = os.path.join(out, "classes")
    srcs = sources(root)
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(out, "stamp")
    if os.path.isdir(classes) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(out, "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cmd = ["java", NO_PERF_DATA, "-Xss8m", "-Xmx3g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp,
           "@" + args_file]
    # run from the empty output dir: scalac also searches its working
    # directory for classes and packages
    r = subprocess.run(cmd, cwd=tmp, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("loadbench: compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    return classes


if __name__ == "__main__":
    print(build(os.path.dirname(HERE)))
