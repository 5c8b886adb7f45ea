#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine (`src/main/scala` of the checkout) together with the
benchmark harness (`perfbench/src`) into `.bench_build/perfbench/classes`
with the Scala compiler that ships in the Spark jars directory the project
build uses. A build is skipped when a stamp of every source file, the JDK
and the jar listing matches the previous one.

    python3 perfbench/build.py          # build (or confirm up to date)
    python3 perfbench/build.py --force  # rebuild everything
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "src")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "stamp")


class BuildError(Exception):
    pass


def spark_jars():
    """The jars the project build compiles against: `unmanagedBase` in
    build.sbt, else `$SPARK_HOME/jars`."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            found = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        found = None
    if found:
        jars = found.group(1)
    elif "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        raise BuildError("no Spark jars: no unmanagedBase in build.sbt, no SPARK_HOME")
    if not os.path.isdir(jars):
        raise BuildError(f"no Spark jars directory at {jars}")
    return jars


def sources():
    if not os.path.isdir(ENGINE_SRC):
        raise BuildError(f"engine sources not found: {ENGINE_SRC}")
    found = []
    for top in (ENGINE_SRC, HARNESS_SRC):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def stamp(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    java = subprocess.run(["java", "-version"], capture_output=True, text=True)
    h.update(java.stderr.encode())
    return h.hexdigest()


def build(force=False):
    """Compile if needed; return the runtime classpath and the build stamp."""
    jars = spark_jars()
    files = sources()
    want = stamp(files, jars)
    classpath = CLASSES + os.pathsep + os.path.join(jars, "*")
    if not force and os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == want:
                return classpath, want
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    os.makedirs(os.path.join(OUT, "tmp"), exist_ok=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(OUT, "tmp"),
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    done = subprocess.run(cmd, capture_output=True, text=True, timeout=840)
    if done.returncode != 0:
        raise BuildError("compile failed:\n" + done.stdout[-4000:] + done.stderr[-4000:])
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as fh:
        fh.write(want + "\n")
    return classpath, want


if __name__ == "__main__":
    try:
        print(build(force="--force" in sys.argv[1:])[0])
    except (BuildError, subprocess.TimeoutExpired) as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(2)
