#!/usr/bin/env python3
"""Run one workload of the oups engine benchmark.

    python3 perfbench/run.py --workload <ingest|scan> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first call compiles the engine
(../src/main) together with the benchmark into .bench_build/; later calls
reuse the build while the sources are unchanged. Each run works in its own
directory under .bench_out/ (removed at exit, except for the record and
trace files under .bench_out/records/). The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
OUT = os.path.join(ROOT, ".bench_out")
WORKLOADS = ("ingest", "scan")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Few JVM service threads beside Spark's N task threads: a stop-the-world
# collector with two threads instead of G1's concurrent ones, and two JIT
# compiler threads. With G1 and the default compiler threads, run-to-run
# spread on a 4-core host was several times larger (see README.md).
JVM_THREADS = ["-XX:+UseParallelGC", "-XX:ParallelGCThreads=2",
               "-XX:CICompilerCount=2"]

# Spark on JDK 17 outside spark-submit needs these (the engine's build.sbt
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def spark_home():
    """SPARK_HOME, or the installation that spark-submit on PATH runs."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found (set SPARK_HOME)")
    return home


def stamp_of(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile when the sources changed; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("engine sources not found (src/main/scala); run from a "
             "checkout of the repository")
    stamp = stamp_of(source_files())
    stamp_file = os.path.join(BUILD, "perfbench.stamp")
    cp_file = os.path.join(BUILD, "perfbench.classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false", "compile",
           "export Runtime/fullClasspath"]
    print("perfbench: compiling the engine and the benchmark",
          file=sys.stderr, flush=True)
    try:
        p = subprocess.run(cmd, cwd=BENCH, env=env, capture_output=True,
                           text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    lines = [ln for ln in p.stdout.splitlines()
             if ln and not ln.startswith("[") and ".jar" in ln]
    if not lines:
        fail("build printed no classpath")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    start_ms = int(time.time() * 1000)  # set-up time counts from here
    work = os.path.join(OUT, f"run-{os.getpid()}-{start_ms}")
    records = os.path.join(OUT, "records")
    os.makedirs(work)
    os.makedirs(records, exist_ok=True)
    cmd = (["java", "-Xms2g", "-Xmx2g"] + JVM_THREADS
           + ["-XX:-UsePerfData", f"-Djava.io.tmpdir={work}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--cpus", str(cpus()), "--work", work, "--records", records,
              "--start-ms", str(start_ms)])
    try:
        p = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE, text=True,
                           timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    out = p.stdout.rstrip("\n")
    last = out.splitlines()[-1] if out else ""
    if p.returncode != 0 or not last.startswith("{"):
        sys.stderr.write(out + "\n" if out else "")
        fail(f"benchmark process failed (exit {p.returncode})")
    print(out, flush=True)


if __name__ == "__main__":
    main()
