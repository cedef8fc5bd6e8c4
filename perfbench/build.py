"""Build file of the benchmark: compiles graft's main sources and the
benchmark client (perfbench/harness) with the Scala compiler that ships
in Spark's jars ($SPARK_HOME/jars, the classpath build.sbt uses too).
No sbt, no downloads.

The classes go to .bench_build/classes-<hash of every source>, so a
checkout builds once and a changed source builds again.

Usage: python3 perfbench/build.py   (prints the classes directory)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD_DIR = os.path.join(ROOT, ".bench_build")


def _spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        raise SystemExit("Spark not found: set SPARK_HOME")
    return os.path.join(home, "jars")


SPARK_JARS = _spark_jars()


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        raise SystemExit("no graft sources under src/main/scala: run from a graft checkout")
    harness = sorted(glob.glob(os.path.join(ROOT, "perfbench/harness/*.scala")))
    return main + harness


def classpath(classes):
    return f"{classes}:{SPARK_JARS}/*"


def build():
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    classes = os.path.join(BUILD_DIR, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{SPARK_JARS}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", f"{SPARK_JARS}/*"] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build failed (scalac exit {r.returncode})")
    os.rename(tmp, classes)
    for old in glob.glob(os.path.join(BUILD_DIR, "classes-*")):
        if old != classes:
            shutil.rmtree(old, ignore_errors=True)
    return classes


if __name__ == "__main__":
    print(build())
