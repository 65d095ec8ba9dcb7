"""Build file of the benchmark: compiles the library sources and the
benchmark's JVM program with the Scala compiler that ships in Spark's jars.

    python3 perfbench/build.py          # from the repository root

The classes land in .bench_build/classes-<hash>, where <hash> covers every
source file, so an unchanged tree is compiled once and reused.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "scala")
OUT_ROOT = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the repository's own sbt
    build names as `unmanagedBase`."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if not m:
            raise SystemExit("set SPARK_HOME: build.sbt names no unmanagedBase")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"no Spark jars with a Scala compiler under {jars}")
    return jars


def sources():
    if not os.path.isdir(os.path.join(LIB_SRC, "graft")):
        raise SystemExit(f"library sources not found under {LIB_SRC}")
    files = []
    for base in (LIB_SRC, BENCH_SRC):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def build():
    """Return the classes directory, compiling first when sources changed."""
    files = sources()
    jars = spark_jars()
    h = hashlib.sha256(jars.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(OUT_ROOT, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "BUILD_OK")):
        return out
    for stale in glob.glob(os.path.join(OUT_ROOT, "classes-*")):
        shutil.rmtree(stale, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out, "@" + argfile]
    # scalac puts its working directory on the class path; compile from the
    # empty output directory so no source directory reads as a package.
    r = subprocess.run(cmd, cwd=out, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("compilation failed")
    open(os.path.join(out, "BUILD_OK"), "w").close()
    return out


if __name__ == "__main__":
    print(build())
