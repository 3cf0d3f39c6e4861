"""Build file of the benchmark: compiles graft's sources (``src/main/scala``)
together with the benchmark's own JVM program (``perfbench/src``) with the Scala
compiler that ships in Spark's jar directory. Classes go to
``perfbench/.build``; a content hash of every source skips rebuilds of
unchanged code.

Usage: python3 perfbench/build.py   (from the root of a checkout)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".build")

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spark_jars() -> str:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit("build: no Spark jar directory with a Scala compiler "
                         "(set SPARK_HOME)")
    return jars


def sources():
    graft = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(graft):
        raise SystemExit(f"build: {graft} not found; run from a graft checkout")
    files = glob.glob(os.path.join(graft, "**", "*.scala"), recursive=True)
    files += glob.glob(os.path.join(HERE, "src", "**", "*.scala"),
                       recursive=True)
    return sorted(files)


def classpath() -> str:
    """Runtime classpath: the compiled classes plus Spark's jars."""
    return os.path.join(OUT, "classes") + os.pathsep + \
        os.path.join(spark_jars(), "*")


def build() -> str:
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(OUT, "stamp")
    classes = os.path.join(OUT, "classes")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classpath()
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(classes)
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xmx3g", "-Xss16m", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", jars, *srcs]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build: scalac failed")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classpath()


if __name__ == "__main__":
    build()
    print(os.path.join(OUT, "classes"))
