#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's sources
(src/main/scala, src/main/resources) and then the benchmark's own
(perfbench/src) against them, with the Scala compiler that ships in
Spark's jar directory, into .bench_build/engine.jar and bench.jar. A stamp
of every source's content skips a compile when nothing changed.

    python3 perfbench/build.py      # from the repository root
"""
import hashlib
import os
import shutil
import subprocess
import sys
import time
import zipfile

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
# (output directory, source directory): the engine, then the benchmark
# against it, so a change to either recompiles only what it touches
UNITS = [(os.path.join(BUILD, "engine.jar"), os.path.join(ROOT, "src", "main", "scala")),
         (os.path.join(BUILD, "bench.jar"), os.path.join(ROOT, "perfbench", "src"))]


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the first one beside a
    `spark-submit` on the PATH that holds a Scala 2.13 compiler."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and os.path.isdir(jars) and \
                any(n.startswith("scala-compiler-2.13") for n in os.listdir(jars)):
            return jars
    raise SystemExit("build: no Spark jar directory with a Scala 2.13 compiler; set SPARK_HOME")


def files_under(d, exts=None):
    if not os.path.isdir(d):
        raise SystemExit(f"build: source directory {os.path.relpath(d, ROOT)} is missing")
    out = []
    for base, _, names in os.walk(d):
        out += [os.path.join(base, n) for n in names if exts is None or n.endswith(exts)]
    return sorted(out)


def stamp(files, upstream):
    h = hashlib.sha256(upstream.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile what changed; returns the classpath entries to run with and
    a stamp of everything built."""
    jars = spark_jars()
    cp = []
    upstream = ""
    for out, src in UNITS:
        files = files_under(src, (".scala", ".java"))
        resources = files_under(RESOURCES) if not cp and os.path.isdir(RESOURCES) else []
        want = stamp(files + resources, upstream)
        stamp_file = out + ".stamp"
        if not (os.path.isfile(out) and os.path.isfile(stamp_file)
                and open(stamp_file).read() == want):
            compile_unit(jars, files, resources, out, cp)
            with open(stamp_file, "w") as fh:
                fh.write(want)
        cp.append(out)
        upstream = want
    return cp + [os.path.join(jars, "*")], upstream


def compile_unit(jars, files, resources, out, deps):
    classes = out + ".classes"
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    t0 = time.time()
    argfile = out + ".sources"
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    classpath = os.pathsep.join(deps + [os.path.join(jars, "*")])
    cmd = ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx3g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-classpath", classpath,
           "-d", classes, "-nowarn", "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(argfile)
    if r.returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        sys.stderr.write(r.stdout[-20000:])
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    # a jar, not a directory: the JVM's class-data archive takes jars only
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for base, _, names in os.walk(classes):
            for n in sorted(names):
                p = os.path.join(base, n)
                z.write(p, os.path.relpath(p, classes))
        for p in resources:
            z.write(p, os.path.relpath(p, RESOURCES))
    shutil.rmtree(classes)
    sys.stderr.write(f"build: compiled {len(files)} sources into "
                     f"{os.path.relpath(out, ROOT)} in {time.time() - t0:.0f} s\n")


if __name__ == "__main__":
    build()
