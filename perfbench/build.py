"""Build file of the benchmark: compiles the library's main sources together
with the benchmark harness into one class directory.

The compilers are the ones Spark ships (scala-compiler in $SPARK_HOME/jars)
and the JDK's javac, so the build needs no dependency resolver and writes
only under the output directory. The output is keyed by a hash of every
source file and of the jar listing, so an unchanged tree is built once.

Usage: python3 perfbench/build.py   (prints the class directory)
"""

import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCE_DIRS = ["src/main/scala", "src/main/java", "perfbench/src"]


def spark_jars():
    """$SPARK_HOME/jars, or the jars of the first Spark install on the PATH."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    raise SystemExit("perfbench: no Spark jars found; set SPARK_HOME")


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def sources():
    """Every .scala/.java file the build compiles, relative to ROOT."""
    if not os.path.isdir(os.path.join(ROOT, "src/main/scala")):
        raise SystemExit("perfbench: src/main/scala not found; run from the root of a "
                         "lintdbspark checkout")
    out = []
    for d in SOURCE_DIRS:
        for base, _, files in os.walk(os.path.join(ROOT, d)):
            out += [os.path.relpath(os.path.join(base, f), ROOT)
                    for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def source_key(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(spark_jars()))).encode())
    return h.hexdigest()[:16]


def ensure_built():
    """Return the class directory for the current sources, compiling first if
    it does not exist yet."""
    files = sources()
    out = os.path.join(build_dir(), "classes-" + source_key(files))
    if os.path.exists(os.path.join(out, "_complete")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jars = os.path.join(spark_jars(), "*")
    paths = [os.path.join(ROOT, f) for f in files]
    java_files = [p for p in paths if p.endswith(".java")]
    # scalac reads the Java sources for their signatures; javac then compiles
    # them against the Scala classes
    subprocess.run(["java", "-Xmx2g", "-Xss4m", "-cp", jars, "scala.tools.nsc.Main",
                    "-usejavacp", "-encoding", "UTF-8", "-nowarn", "-d", tmp] + paths,
                   check=True, stdout=sys.stderr)
    if java_files:
        subprocess.run(["javac", "-encoding", "UTF-8", "-nowarn",
                        "--add-modules", "jdk.incubator.vector",
                        "-d", tmp, "-cp", tmp + os.pathsep + jars] + java_files,
                       check=True, stdout=sys.stderr)
    open(os.path.join(tmp, "_complete"), "w").close()
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(ensure_built())
