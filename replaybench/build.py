#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's sources
(src/main/scala of the checkout) together with the benchmark harness
(replaybench/src) into one class directory, with the Scala compiler that
ships with Spark. Output goes under .bench_build/ and is reused while no
source changes.

    python3 replaybench/build.py      # from the repository root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    for d in (os.path.join(os.environ.get("SPARK_HOME", ""), "jars"), "/opt/spark/jars"):
        jars = sorted(glob.glob(os.path.join(d, "*.jar")))
        if any("scala-compiler" in os.path.basename(j) for j in jars):
            return jars
    raise SystemExit("replaybench: no Spark jars with a Scala compiler "
                     "(set SPARK_HOME)")


def sources(root):
    prog = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(prog):
        raise SystemExit("replaybench: %s not found; run from the repository root"
                         % os.path.relpath(prog, root))
    files = []
    for base in (prog, os.path.join(HERE, "src")):
        for dirpath, _, names in os.walk(base):
            files += [os.path.join(dirpath, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def build(root):
    """Return the classpath (list) for the compiled program plus harness."""
    jars = spark_jars()
    srcs = sources(root)
    h = hashlib.sha256()
    for f in srcs + jars:
        h.update(os.path.relpath(f, root).encode())
        if f in srcs:
            with open(f, "rb") as fh:
                h.update(fh.read())
    out_root = os.path.join(root, ".bench_build", "replaybench")
    classes = os.path.join(out_root, "classes-" + h.hexdigest()[:16])
    if not os.path.isfile(os.path.join(classes, ".ok")):
        for old in glob.glob(os.path.join(out_root, "classes-*")):
            shutil.rmtree(old, ignore_errors=True)
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        cp = ":".join(jars)
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
               "-nowarn", "-classpath", cp, "-d", tmp] + srcs
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            raise SystemExit("replaybench: compile failed (exit %d)" % r.returncode)
        open(os.path.join(tmp, ".ok"), "w").close()
        os.rename(tmp, classes)
    return [classes] + jars


if __name__ == "__main__":
    build(os.getcwd())
