"""Builds the program and the benchmark's JVM harness from source.

Compiles the program's `src/main/scala` together with `perfbench/scala`
with the Scala compiler that ships in Spark's jars (no sbt, no network),
into `perfbench/.build/classes`. A build is skipped when a stamp of every
source file's path and content matches the last one.

    python3 perfbench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "stamp")


def spark_jars() -> str:
    """Spark's jars: $SPARK_HOME/jars, else the directory the program's own
    build.sbt compiles against (its `unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        jars = m.group(1) if m else ""
    if not os.path.isdir(jars):
        raise SystemExit("perfbench: Spark jars not found (set SPARK_HOME)")
    return jars


def classpath() -> str:
    return os.pathsep.join([CLASSES, os.path.join(spark_jars(), "*")])


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")]
    if not os.path.isdir(roots[0]):
        raise SystemExit("perfbench: program sources (src/main/scala) not found")
    out = []
    for r in roots:
        for d, _, files in os.walk(r):
            out += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def resources():
    res = os.path.join(ROOT, "src", "main", "resources")
    out = []
    for d, _, files in os.walk(res):
        out += [os.path.join(d, f) for f in files]
    return res, sorted(out)


def stamp(files) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(quiet: bool = True) -> str:
    srcs = sources()
    res_root, res = resources()
    st = stamp(srcs + res)
    if os.path.exists(STAMP) and open(STAMP).read() == st:
        return classpath()
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", jars, "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: compilation failed")
    for f in res:
        dst = os.path.join(CLASSES, os.path.relpath(f, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    with open(STAMP, "w") as fh:
        fh.write(st)
    return classpath()


if __name__ == "__main__":
    print(build())
