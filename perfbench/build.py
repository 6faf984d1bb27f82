#!/usr/bin/env python3
"""Build file of the benchmark: compiles the repository's main Scala sources
together with the benchmark's own sources (perfbench/src) into
.bench_build/classes, with the Scala compiler that ships among the Spark jars
the repository builds against (build.sbt's `unmanagedBase`).

A stamp of every source file's path and content is kept next to the classes,
so an unchanged tree is not compiled again.

Usage, from the repository root:  python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"


def spark_jars(root="."):
    """The jar directory build.sbt names as `unmanagedBase`."""
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def sources(root="."):
    found = []
    for base in ("src/main/scala", "src/main/java", "perfbench/src"):
        for ext in ("scala", "java"):
            found += glob.glob(os.path.join(root, base, "**", f"*.{ext}"), recursive=True)
    return sorted(found)


def stamp(files, jars, root):
    h = hashlib.sha256(jars.encode())
    for path in files:
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def ensure(root="."):
    """Compile if the sources changed since the last build; return the
    classes directory and whether this call compiled."""
    jars = spark_jars(root)
    files = sources(root)
    if not any(p.endswith(".scala") and "/src/main/" in p for p in files):
        raise SystemExit("no main sources under src/main/scala")
    classes = os.path.join(root, BUILD_DIR, "classes")
    stamp_file = os.path.join(root, BUILD_DIR, "stamp")
    want = stamp(files, jars, root)
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return classes, False
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(jars, "*")
    scalac = ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
              "-nowarn", "-d", classes, "-cp", cp]
    subprocess.run(scalac + files, check=True, stdout=sys.stderr)
    java = [p for p in files if p.endswith(".java")]
    if java:
        subprocess.run(["javac", "-nowarn", "-d", classes, "-cp", f"{classes}:{cp}"] + java,
                       check=True, stdout=sys.stderr)
    with open(stamp_file, "w") as f:
        f.write(want)
    return classes, True


if __name__ == "__main__":
    print(ensure()[0])
