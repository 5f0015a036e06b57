"""Build file of the benchmark: compiles the engine's sources and the
harness under perfbench/scala into one class directory with the Scala
compiler that ships in the Spark distribution.

    python3 perfbench/build.py [<out dir>]

Run from the root of a checkout. The output directory defaults to
$CARGO_TARGET_DIR or .bench_build; a stamp of the source hashes skips the
compile when nothing changed. Exits non-zero when the engine's sources or
the Spark jars are missing.
"""
import glob
import hashlib
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_home():
    """$SPARK_HOME, else the first installation on PATH whose jars hold the
    Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for h in homes:
        if h and glob.glob(os.path.join(h, "jars", "scala-compiler-2.13*.jar")):
            return h
    return ""


SPARK_JARS = os.path.join(spark_home(), "jars")


def sources(root):
    srcs = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not srcs:
        return None
    return srcs + sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True))


def compiler_jars():
    jars = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        found = sorted(glob.glob(os.path.join(SPARK_JARS, name + "-2.13*.jar")))
        if not found:
            return None
        jars.append(found[-1])
    return jars


def build(root, out):
    srcs = sources(root)
    if srcs is None:
        sys.exit("build: no engine sources under src/main/scala")
    jars = compiler_jars()
    if jars is None:
        sys.exit("build: no Scala compiler under " + SPARK_JARS)
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(p.encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    os.makedirs(classes, exist_ok=True)
    for dirpath, _, files in os.walk(classes, topdown=False):
        for f in files:
            os.remove(os.path.join(dirpath, f))
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", ":".join(jars), "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", os.path.join(SPARK_JARS, "*")] + srcs
    proc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if proc.returncode != 0:
        sys.exit("build: compile failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def out_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


if __name__ == "__main__":
    root = os.getcwd()
    print(build(root, sys.argv[1] if len(sys.argv) > 1 else out_dir(root)))
