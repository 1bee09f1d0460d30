"""Build file of the benchmark: compiles the engine (src/main/scala) and
the benchmark program (perfbench/src) with the Scala compiler that ships
in the Spark distribution ($SPARK_HOME/jars), into one class directory.

    python3 perfbench/build.py        # prints the class directory

Output goes under $CARGO_TARGET_DIR (default .bench_build) at the
repository root. A stamp of every source file's path and bytes skips the
compile when nothing changed.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_home():
    """$SPARK_HOME, else the distribution that holds spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("build: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return home


def classpath():
    return os.path.join(spark_home(), "jars", "*")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                              recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"),
                             recursive=True))
    if not engine:
        raise SystemExit("build: no engine sources under src/main/scala")
    return engine + bench


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(ROOT, d) if not os.path.isabs(d) else d


def build(log=sys.stderr):
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    out = os.path.join(build_dir(), "perfbench")
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return classes
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", classpath(),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-cp", classpath(), "@" + argfile]
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed ({r.returncode})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    print(build())
