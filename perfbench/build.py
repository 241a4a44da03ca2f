#!/usr/bin/env python3
"""Build script of the benchmark: compiles the program (src/main) together
with the benchmark's own Scala sources (perfbench/src) into .bench_build/,
with the Scala compiler found in the jar directory build.sbt compiles
against.

The output directory is keyed by a hash of every source file, so an
unchanged tree is compiled once. Run from the repository root:

    python3 perfbench/build.py        # prints the classes directory
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_ROOT = os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
# keeps the JVM from writing its hsperfdata file under /tmp
NO_PERF_DATA = ["-XX:-UsePerfData"]


def sources(root):
    """(scala sources, resource files) of the program and the benchmark."""
    scala, resources = [], []
    for base in ("src/main/scala", "perfbench/src"):
        for d, _, fs in os.walk(os.path.join(root, base)):
            scala += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    res = os.path.join(root, "src/main/resources")
    for d, _, fs in os.walk(res):
        resources += [os.path.join(d, f) for f in fs]
    return sorted(scala), sorted(resources)


def spark_jars(root="."):
    """The jar directory build.sbt compiles against (`unmanagedBase`)."""
    if "SPARK_JARS" in os.environ:
        return os.environ["SPARK_JARS"]
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("perfbench: build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def classpath(root="."):
    return os.path.join(spark_jars(root), "*")


def build(root="."):
    """Compile if needed; return the classes directory."""
    scala, resources = sources(root)
    if not any(p.startswith(os.path.join(root, "src/main/scala")) for p in scala):
        raise SystemExit("perfbench: no program sources under src/main/scala")
    h = hashlib.sha256()
    for p in scala + resources:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(root, BUILD_ROOT, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp"
    parent = os.path.dirname(out)
    os.makedirs(parent, exist_ok=True)
    for d in os.listdir(parent):  # leftovers of an interrupted build
        if d.startswith("classes-") and d.endswith(".tmp"):
            shutil.rmtree(os.path.join(parent, d), ignore_errors=True)
    os.makedirs(tmp)
    cp = classpath(root)
    cmd = ["java", *NO_PERF_DATA, "-Xss16m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp] + scala
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("perfbench: compilation failed")
    res_root = os.path.join(root, "src/main/resources")
    for p in resources:
        dst = os.path.join(tmp, os.path.relpath(p, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    # keep only the newest build
    for d in os.listdir(parent):
        if d.startswith("classes-") and not d.endswith(".tmp"):
            shutil.rmtree(os.path.join(parent, d), ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(build())
