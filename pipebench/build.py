"""Build file of the benchmark: compiles the program's main sources and
the harness under `scala/` into one class directory with the Scala
compiler that ships with Spark, without sbt.

    python3 pipebench/build.py        # from the repository root

The output lands in `.bench_build/classes-<digest>`, keyed by a digest of
every source file, so an unchanged tree is not rebuilt. Spark comes from
SPARK_HOME, else from the `spark-submit` on PATH.
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit("build: Spark jars not found (set SPARK_HOME)")
    return jars


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    prog = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    if not prog:
        raise SystemExit("build: no program sources under src/main/scala")
    bench = sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True))
    return prog + bench


def classpath(classes):
    return os.pathsep.join([classes, os.path.join(spark_jars(), "*")])


def build(log=sys.stderr):
    """Compile if needed; returns the class directory."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as fh:
            h.update(fh.read())
    classes = os.path.join(OUT, "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(classes, ".complete")):
        return classes
    if os.path.isdir(OUT):
        shutil.rmtree(OUT)
    os.makedirs(classes)
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", jars, "-d", classes] + srcs
    print("build: compiling %d sources" % len(srcs), file=log)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=log)
        raise SystemExit("build: scalac failed")
    open(os.path.join(classes, ".complete"), "w").close()
    return classes


if __name__ == "__main__":
    print(build())
