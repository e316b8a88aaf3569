"""Build file of the benchmark: compiles graft's main sources together with
the benchmark's own Scala sources into one class directory.

The compiler is the scala-compiler jar that ships with Spark, so the build
needs nothing beyond a JDK and a Spark distribution. The output lives under
`.bench_build/perfbench/` in the checkout and is reused while no source file
changes (a content hash of every input is kept beside it).

    python3 perfbench/build.py        # from the root of a checkout
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
GRAFT_RESOURCES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(BENCH_DIR, "src")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.sha256")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise BuildError("no Spark distribution found (set SPARK_HOME)")
    return jars


def sources():
    if not os.path.isdir(os.path.join(GRAFT_SRC, "graft")):
        raise BuildError(f"graft sources not found under {os.path.relpath(GRAFT_SRC, ROOT)}; "
                         "run from the root of a graft checkout")
    found = []
    for base in (GRAFT_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def digest(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Runtime class path: compiled classes, graft's resources, Spark."""
    return os.pathsep.join([CLASSES, GRAFT_RESOURCES, os.path.join(spark_jars(), "*")])


def build(log=sys.stderr):
    """Compile if any input changed; return the runtime class path."""
    files = sources()
    jars = spark_jars()
    want = digest(files)
    if os.path.exists(STAMP) and open(STAMP).read().strip() == want:
        return classpath()
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    compiler = os.pathsep.join(glob.glob(os.path.join(jars, p))[0] for p in
                               ("scala-compiler-*.jar", "scala-library-*.jar", "scala-reflect-*.jar"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-usejavacp", "-classpath", os.path.join(jars, "*"),
           "-d", CLASSES, "@" + argfile]
    print(f"[perfbench] compiling {len(files)} Scala files", file=log, flush=True)
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    with open(STAMP, "w") as fh:
        fh.write(want + "\n")
    return classpath()


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
