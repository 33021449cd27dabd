"""Build step of the benchmark: compile graft's sources (src/main/scala) and
the benchmark's own Scala files (perfbench/scala) into one class directory
with the Scala compiler that ships in Spark's jars.

The build is keyed by a hash of every source file, so a checkout compiles
once and later runs reuse the classes.  Run directly to build:

    python3 perfbench/build.py
"""

import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        raise RuntimeError("Spark jars not found: set SPARK_HOME")
    return jars


def sources(root):
    dirs = [os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "scala")]
    if not os.path.isdir(dirs[0]):
        raise RuntimeError(f"graft sources not found under {dirs[0]}")
    out = []
    for d in dirs:
        for r, _, names in os.walk(d):
            out += [os.path.join(r, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(out)


def ensure(root, build_dir):
    """Return the class directory for the current sources, compiling if needed."""
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    key = h.hexdigest()[:16]
    classes = os.path.join(build_dir, "classes-" + key)
    if os.path.exists(os.path.join(classes, ".complete")):
        return classes
    if os.path.isdir(build_dir):
        for old in os.listdir(build_dir):
            if old.startswith("classes-"):
                shutil.rmtree(os.path.join(build_dir, old), ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes, "@" + argfile]
    print(f"[build] compiling {len(srcs)} source files", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        raise RuntimeError("compilation failed")
    open(os.path.join(classes, ".complete"), "w").close()
    return classes


if __name__ == "__main__":
    print(ensure(os.getcwd(), os.path.join(os.getcwd(), ".bench_build")))
