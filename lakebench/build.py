#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's main sources
(src/main/scala) together with the benchmark's own sources (lakebench/src)
with the Scala compiler that ships in Spark's jars directory
($SPARK_HOME/jars, or the jars beside the spark-submit on PATH).

Output goes to .bench_build/lakebench/classes-<hash of the sources>, so an
unchanged tree is built once. Run from the repository root:

    python3 lakebench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

OUT = os.path.join(".bench_build", "lakebench")


def spark_jars():
    """$SPARK_HOME/jars, or the jars beside the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit("lakebench: no Spark jars found (set SPARK_HOME)")
    return jars


def sources():
    prog = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    bench = sorted(glob.glob("lakebench/src/*.scala"))
    if not prog:
        raise SystemExit("lakebench: no program sources under src/main/scala; "
                         "run from the repository root")
    if not bench:
        raise SystemExit("lakebench: no benchmark sources under lakebench/src")
    return prog + bench


def build():
    """Compile if needed; return the classpath entry holding the classes."""
    srcs = sources()
    resources = sorted(p for p in glob.glob("src/main/resources/**/*", recursive=True)
                       if os.path.isfile(p))
    h = hashlib.sha256()
    for p in srcs + resources:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    classes = os.path.join(OUT, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".done")):
        return classes
    jars = spark_jars()
    compiler = [os.path.join(jars, n) for n in
                ("scala-compiler-2.13.17.jar", "scala-library-2.13.17.jar",
                 "scala-reflect-2.13.17.jar")]
    for old in glob.glob(os.path.join(OUT, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    print(f"lakebench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-cp", ":".join(compiler),
                        "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
                        "-classpath", os.path.join(jars, "*"), "@" + argfile],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"lakebench: compile failed ({r.returncode})")
    for p in resources:
        dest = os.path.join(tmp, os.path.relpath(p, "src/main/resources"))
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        shutil.copyfile(p, dest)
    open(os.path.join(tmp, ".done"), "w").close()
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    print(build())
