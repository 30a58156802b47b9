#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program (`src/main/scala`) together with the benchmark
driver (`perfbench/src`) with the Scala compiler that ships among the
Spark jars the repo's build.sbt points at (`unmanagedBase`), and packs
the classes into `.bench_build/perfbench/app.jar` of the checkout. A
stamp over every source file's hash and the jar listing makes a rebuild
happen only when something changed. A rebuild also drops the class-data
archive (`app.jsa`) that run.py trains from the new jar.

Usage: python3 perfbench/build.py   (run from the repo root)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

BUILD_DIR = os.path.join(".bench_build", "perfbench")


def archive_path(root):
    """Class-data-sharing archive of the built classpath (trained by
    run.py; the JVM's dynamic CDS needs the classes in a jar)."""
    return os.path.join(root, BUILD_DIR, "app.jsa")


def spark_jars(root):
    """The jar directory build.sbt compiles against."""
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    home = os.environ.get("SPARK_HOME", "")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise SystemExit("build: no Spark jar directory (build.sbt "
                     "unmanagedBase or $SPARK_HOME/jars)")


def sources(root):
    srcs = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**",
                                         "*.scala"), recursive=True))
    srcs += sorted(glob.glob(os.path.join(root, "perfbench", "src",
                                          "*.scala")))
    return srcs


def ensure_built(root, log=sys.stderr):
    """Compile and pack if the stamp is stale; return the runtime
    classpath."""
    jars = spark_jars(root)
    srcs = sources(root)
    if not any("/src/main/" in s for s in srcs):
        raise SystemExit("build: no program sources under src/main/scala")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    out = os.path.join(root, BUILD_DIR)
    jar = os.path.join(out, "app.jar")
    stamp_file = os.path.join(out, "stamp")
    cp = f"{jar}{os.pathsep}{os.path.join(jars, '*')}"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    jsa = archive_path(root)
    for stale in (stamp_file, jsa):
        if os.path.exists(stale):
            os.remove(stale)
    tmp = os.path.join(out, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    print(f"build: compiling {len(srcs)} sources", file=log, flush=True)
    args_file = os.path.join(out, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    r = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
         "scala.tools.nsc.Main", "-nowarn", "-Ybackend-parallelism", "4",
         "-d", tmp, "-classpath", os.path.join(jars, "*"), "@" + args_file],
        stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed ({r.returncode})")
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(tmp)):
            for f in sorted(files):
                z.write(os.path.join(d, f),
                        os.path.relpath(os.path.join(d, f), tmp))
    os.replace(jar + ".tmp", jar)
    shutil.rmtree(tmp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


if __name__ == "__main__":
    print(ensure_built(os.getcwd()))
