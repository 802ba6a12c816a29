#!/usr/bin/env python3
"""Build file of the benchmark harness.

Compiles the engine (`src/main/scala`) together with the harness
(`perfbench/harness`) with the Scala compiler that ships in Spark's jar
directory, into `perfbench/.build/classes`. A stamp of every source file and
of the jar listing makes a second call a no-op.

    python3 perfbench/build.py        # prints the classpath it built
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "harness")]
OUT = os.path.join(HERE, ".build")


def spark_jars():
    """$SPARK_HOME/jars, else the jars beside the first Spark distribution's
    bin/spark-submit on PATH."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    raise SystemExit("build: Spark jars not found (set SPARK_HOME)")


def source_files():
    files = []
    for base in SOURCES:
        if not os.path.isdir(base):
            raise SystemExit(f"build: source directory missing: {os.path.relpath(base, ROOT)}")
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def stamp(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def classpath():
    """Compile if the sources changed; return the run classpath."""
    jars = spark_jars()
    files = source_files()
    classes = os.path.join(OUT, "classes")
    want = stamp(files, jars)
    stamp_file = os.path.join(OUT, "stamp")
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == want):
        tmp = os.path.join(OUT, "classes.tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(OUT, "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(files) + "\n")
        tmpdir = os.path.join(OUT, "tmp")
        os.makedirs(tmpdir, exist_ok=True)
        cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmpdir}",
               "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
               "-d", tmp, "-classpath", os.path.join(jars, "*"), "-nowarn",
               "@" + argfile]
        print(f"build: compiling {len(files)} Scala files", file=sys.stderr)
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-8000:])
            raise SystemExit("build: compilation failed")
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
        with open(stamp_file, "w") as fh:
            fh.write(want)
    return classes + os.pathsep + os.path.join(jars, "*")


if __name__ == "__main__":
    print(classpath())
