"""Build file of the benchmark: compiles the library (src/main/scala) and the
benchmark's JVM side (perfbench/src) from source with scalac.

Usage: python3 perfbench/build.py      # prints the classes directory

The Scala compiler, the Scala library and Spark are the jars of the Spark
distribution: $SPARK_HOME/jars, or else the `unmanagedBase` directory that
build.sbt names, the jars the library's own sbt build compiles against.
Classes go to $CARGO_TARGET_DIR/classes-<hash> (default .bench_build), where
<hash> covers every source file, so an unchanged tree is compiled once.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCE_DIRS = ["src/main/scala", "perfbench/src"]


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def spark_jars():
    if "SPARK_HOME" in os.environ:
        d = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        d = m.group(1) if m else ""
    jars = sorted(glob.glob(os.path.join(d, "*.jar")))
    if not jars:
        raise SystemExit("perfbench: no Spark jars found (set SPARK_HOME)")
    return jars


def sources():
    out = []
    for d in SOURCE_DIRS:
        top = os.path.join(ROOT, d)
        if not os.path.isdir(top):
            raise SystemExit(f"perfbench: source directory {d} is missing")
        for root, dirs, files in os.walk(top):
            dirs.sort()
            out += [os.path.join(root, f) for f in sorted(files) if f.endswith(".scala")]
    return out


def source_digest(srcs):
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Returns (classes directory, source digest), compiling if needed."""
    srcs = sources()
    digest = source_digest(srcs)
    out = os.path.join(build_dir(), "classes-" + digest[:16])
    if os.path.exists(os.path.join(out, ".done")):
        return out, digest
    jars = spark_jars()
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    tmp = f"{out}.tmp{os.getpid()}"
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.pathsep.join(jars),
           "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    os.remove(argfile)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"perfbench: scalac failed with code {r.returncode}")
    open(os.path.join(tmp, ".done"), "w").close()
    try:
        os.rename(tmp, out)
    except OSError:  # another run finished the same build first
        shutil.rmtree(tmp, ignore_errors=True)
    return out, digest


if __name__ == "__main__":
    print(build()[0])
