#!/usr/bin/env python3
"""Build file of the benchmark: compiles the library (src/main/scala) and
the benchmark program (kgbench/src) with scalac from the Spark
distribution's jars, into .bench_build/ at the repository root.

A build is skipped when a stamp of every source file and of the jar set
matches the last successful build.

Usage: python3 kgbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"


class BuildError(Exception):
    pass


def jars_dir(root):
    """The Spark jars the repository builds against: $SPARK_HOME/jars, else
    the unmanagedBase that build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(root, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark jars: set SPARK_HOME or unmanagedBase in build.sbt")


def sources(root, sub):
    found = sorted(glob.glob(os.path.join(root, sub, "**", "*.scala"), recursive=True))
    if not found:
        raise BuildError(f"no Scala sources under {sub}")
    return found


def stamp(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def scalac(jars, classpath, out, files):
    compiler = [glob.glob(os.path.join(jars, p))[0]
                for p in ("scala-library-2.13*.jar", "scala-compiler-2.13*.jar", "scala-reflect-2.13*.jar")]
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-cp", classpath, "-d", out] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])


def build(root="."):
    """Returns the runtime classpath (library classes, benchmark classes,
    Spark jars)."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        raise BuildError("no library sources (src/main/scala) in " + os.path.abspath(root))
    jars = jars_dir(root)
    main_src = sources(root, os.path.join("src", "main", "scala"))
    bench_src = sources(root, os.path.join("kgbench", "src"))
    out = os.path.join(root, BUILD_DIR)
    main_cls = os.path.join(out, "classes", "main")
    bench_cls = os.path.join(out, "classes", "bench")
    stamp_file = os.path.join(out, "stamp")
    want = stamp(main_src + bench_src, jars)
    have = open(stamp_file).read() if os.path.isfile(stamp_file) else ""
    if have != want:
        os.makedirs(out, exist_ok=True)
        if os.path.exists(stamp_file):
            os.remove(stamp_file)
        jar_cp = os.path.join(jars, "*")
        scalac(jars, jar_cp, main_cls, main_src)
        scalac(jars, jar_cp + ":" + main_cls, bench_cls, bench_src)
        with open(stamp_file, "w") as f:
            f.write(want)
    return ":".join([main_cls, bench_cls, os.path.join(jars, "*")])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
