#!/usr/bin/env python3
"""Compile the library (src/main/scala) and the benchmark (perfbench/src)
into one class directory with the Scala compiler that ships in Spark's
jars. Rebuilds only when a source file changed.

Usage: python3 perfbench/build.py [build_dir]   (from the repository root)
"""
import hashlib
import os
import shutil
import subprocess
import sys

SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def jars():
    return sorted(os.path.join(SPARK_JARS, j) for j in os.listdir(SPARK_JARS) if j.endswith(".jar"))


def sources(root):
    out = []
    for base in ("src/main/scala", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(root, base)):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(root, build_dir):
    """Return the class directory, compiling first if it is stale."""
    srcs = sources(root)
    if not any(s.startswith(os.path.join(root, "src/main/scala")) for s in srcs):
        raise SystemExit(f"no library sources under {root}/src/main/scala")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = ":".join(jars())
    r = subprocess.run(["java", "-Xss16m", "-Xmx2g", "-cp", os.path.join(SPARK_JARS, "*"),
                        "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-classpath", cp,
                        "@" + argfile], stdout=sys.stderr)
    if r.returncode != 0:
        raise SystemExit("compilation failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    print(build(os.getcwd(), os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else ".bench_build/perfbench")))
