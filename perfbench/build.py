"""Build file of the benchmark: compiles graft's sources (`src/main/scala`)
together with the benchmark harness (`perfbench/harness`) into one class
directory, with the Scala compiler that ships among Spark's jars.

The output lives under `perfbench/.build/<key>/classes`, where `key`
hashes every source file and the jar list, so an unchanged tree is
compiled once per checkout and a changed one is recompiled.

Usage: python3 perfbench/build.py   (prints the class directory)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS = os.path.join(HERE, "harness")
BUILD = os.path.join(HERE, ".build")


class BuildError(Exception):
    pass


def spark_jars():
    """The jars/ directory of the Spark install: $SPARK_HOME, else the
    install that holds `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
        raise BuildError("no Spark install with the Scala 2.13 compiler in its jars/: "
                         "set SPARK_HOME")
    return os.path.join(home, "jars")


def sources():
    if not os.path.isdir(SRC):
        raise BuildError(f"no program sources at {os.path.relpath(SRC, ROOT)}")
    files = []
    for d in (SRC, HARNESS):
        for dirpath, _, names in os.walk(d):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def source_key(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()[:16]


def build():
    """Return (class dir, jar dir, source key), compiling if needed."""
    jars = spark_jars()
    files = sources()
    key = source_key(files, jars)
    out = os.path.join(BUILD, key)
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "_done")):
        return classes, jars, key
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "classes"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", os.path.join(tmp, "classes")] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    open(os.path.join(tmp, "_done"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return classes, jars, key


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        sys.exit(f"build failed: {e}")
