#!/usr/bin/env python3
"""Run one benchmark workload from the repository root:

    python3 perfbench/run.py --workload ingest|churn --seed N \\
        --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Builds the engine with the benchmark (perfbench/build.py) if its sources
changed, then runs one JVM on local[nproc] with the driver heap sized as
the tier-1 test command sizes it. The last line of standard output is the
JSON result. Everything the run writes stays under .bench_build/.

The first run of each workload after a build also records the classes it
loads into a JVM class-data archive (.bench_build/cds-<workload>.jsa),
which every later run of that workload maps: a cold Spark JVM otherwise
spends about half its start-up loading classes, a fixed cost that would
swamp the short runs.
"""
import argparse
import json
import os
import signal
import subprocess
import sys
import threading
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

RUN_TIMEOUT_S = 170

# build.sbt's javaOptions, except the heap (sized below like tier-1)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JVM_FLAGS = [f for p in ADD_OPENS for f in ("--add-opens", p + "=ALL-UNNAMED")] + [
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
    "-XX:ReservedCodeCacheSize=2g",
    "-XX:+UseCodeCacheFlushing",
    "-XX:CICompilerCount=16",
    # no hsperfdata file under the system temp directory
    "-XX:-UsePerfData",
    # JVM warnings go to stderr: stdout ends with the result line
    "-Xlog:disable", "-Xlog:all=warning:stderr",
]


def driver_mem():
    """SPARK_DRIVER_MEM, else half of physical memory clamped to 2..8 GiB."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def java_cmd(cp, work, extra, args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return ["java", f"-Xmx{driver_mem()}", f"-Djava.io.tmpdir={tmp}", *JVM_FLAGS, *extra,
            "-cp", os.pathsep.join(cp), "perfbench.Main",
            "--cpus", str(len(os.sched_getaffinity(0))), "--work", os.path.join(work, "run"),
            "--out", os.path.join(build.BUILD, "out"), *args]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=["ingest", "churn"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    cp, stamp = build.build()
    out = os.path.join(build.BUILD, "out")
    os.makedirs(out, exist_ok=True)
    tag = "selftest" if a.selftest else f"{a.workload}-{a.seed}-t{a.trace}"
    args = ["--selftest", "1"] if a.selftest else [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace)]
    extra = []
    if not a.selftest:
        name = f"cds-{a.workload}-{stamp[:16]}.jsa"
        for n in os.listdir(build.BUILD):  # archives of earlier builds
            if n.startswith(f"cds-{a.workload}-") and n != name:
                os.remove(os.path.join(build.BUILD, n))
        archive = os.path.join(build.BUILD, name)
        extra = [f"-XX:SharedArchiveFile={archive}" if os.path.exists(archive)
                 else f"-XX:ArchiveClassesAtExit={archive}"]
    work = os.path.join(build.BUILD, "work", f"{tag}-{os.getpid()}")
    cmd = java_cmd(cp, work, extra, args)
    log = os.path.join(out, f"{tag}.log")
    lines = []
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                             start_new_session=True)
        timer = threading.Timer(RUN_TIMEOUT_S, os.killpg, (p.pid, signal.SIGKILL))
        timer.start()
        try:
            for line in p.stdout:
                line = line.rstrip("\n")
                lines.append(line)
                if not line.startswith("{"):
                    print(line, flush=True)
            p.wait()
        finally:
            timer.cancel()
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
            build.shutil.rmtree(work, ignore_errors=True)
    if p.returncode == -signal.SIGKILL:
        sys.stderr.write(f"run: killed after {RUN_TIMEOUT_S} s; log in {log}\n")
        return 3
    result = next((l for l in reversed(lines) if l.startswith("{")), None)
    if a.selftest:
        return p.returncode
    if result is None:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        sys.stderr.write(f"run: no result (exit code {p.returncode}); log in {log}\n")
        return p.returncode or 1
    # the verdict is the result's: the JVM's exit status can also carry a
    # failed class-data archive write, which costs speed, not correctness
    print(result, flush=True)
    return 0 if json.loads(result)["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
