"""Build file of the benchmark package.

Compiles the program (`src/main/scala`) together with the benchmark's own
sources (`perfbench/src`) using the Scala compiler that ships with the
Spark jars the program builds against (`unmanagedBase` in `build.sbt`,
overridable with GRAFT_SPARK_JARS). No sbt, no dependency resolution: the
build reads only the checkout and the Spark jar directory, and writes only
under `.bench_build/`.

The output directory is keyed by a hash of every input, so an unchanged
checkout reuses its classes.

    python3 perfbench/build.py          # prints the classpath
"""
import hashlib
import os
import re
import subprocess
import sys
import tempfile

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")


class BuildError(Exception):
    pass


def spark_jars():
    env = os.environ.get("GRAFT_SPARK_JARS")
    if env:
        return env
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise BuildError("no Spark jar directory: set GRAFT_SPARK_JARS or "
                         "declare unmanagedBase in build.sbt")
    return m.group(1)


def sources(d):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Returns the runtime classpath, compiling first if needed."""
    prog = sources(PROGRAM_SRC)
    own = sources(os.path.join(BENCH, "src"))
    if not prog or not own or not os.path.isdir(PROGRAM_RES):
        raise BuildError("program or benchmark sources missing under %s" % ROOT)
    jars = spark_jars()
    if not os.path.isdir(jars) or \
            not any(j.startswith("scala-compiler") for j in os.listdir(jars)):
        raise BuildError("no Scala compiler jar in %s" % jars)
    h = hashlib.sha256()
    for p in prog + own:
        h.update(p[len(ROOT):].encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update(jars.encode())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    out = os.path.join(BUILD_DIR, "classes-" + h.hexdigest()[:16])
    cp = os.pathsep.join([out, PROGRAM_RES, os.path.join(jars, "*")])
    if os.path.isfile(os.path.join(out, ".done")):
        return cp
    os.makedirs(out, exist_ok=True)
    with tempfile.NamedTemporaryFile("w", suffix=".txt", dir=BUILD_DIR,
                                     delete=False) as f:
        f.write("\n".join(prog + own))
        args_file = f.name
    try:
        r = subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
             "scala.tools.nsc.Main", "-nowarn", "-d", out,
             "-classpath", os.path.join(jars, "*"), "@" + args_file],
            stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    finally:
        os.unlink(args_file)
    if r.returncode != 0:
        raise BuildError("scalac exited with %d" % r.returncode)
    open(os.path.join(out, ".done"), "w").close()
    return cp


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print("build failed: %s" % e, file=sys.stderr)
        sys.exit(2)
