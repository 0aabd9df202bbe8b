#!/usr/bin/env python3
"""Benchmark runner for the graft library.

Run from the repository root:

    python3 perfbench/run.py --workload serve --seed 1 --seconds 4 --trace 0
    python3 perfbench/run.py --selftest

It compiles the library (src/main/scala) together with the benchmark
(perfbench/src) with the Scala compiler that ships in Spark's jars,
caching the classes by a hash of the sources, then runs one workload
in a fresh JVM on local[N]. The last line of standard output is the
run's result as one JSON object. Everything the run writes stays under
the build directory (.bench_build, or $CARGO_TARGET_DIR if set).
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
RUN_LIMIT_S = 170
MAX_CORES = 2
HEAP = "3g"

# Spark on JDK 17 needs these outside spark-submit (same list as build.sbt).
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


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        fail("Spark not found: set SPARK_HOME")
    return os.path.join(jars, "*")


def sources():
    if not os.path.isdir(LIB_SRC):
        fail(f"library sources not found at {os.path.relpath(LIB_SRC)}; "
             "run from the repository root")
    out = []
    for base in (LIB_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(build_dir, jars):
    """Compile once per source hash; returns the classes directory."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    classes = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".complete")):
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", jars] + srcs
    if subprocess.call(cmd, stdout=sys.stderr) != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compilation failed")
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes


def git_state():
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if sha.returncode != 0:
            return "none"
        dirty = subprocess.run(["git", "status", "--porcelain"], cwd=ROOT,
                               capture_output=True, text=True, timeout=10).stdout.strip()
        return sha.stdout.strip() + ("-dirty" if dirty else "")
    except (OSError, subprocess.SubprocessError):
        return "none"


def run_java(classes, jars, main, args, work, log_path):
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_CONF": "spark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
    })
    tmpdir = os.path.join(work, "tmp")
    os.makedirs(tmpdir, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file outside the work directory.
    # -XX:+UseParallelGC: the throughput collector has no concurrent GC
    # threads to compete with the task threads for the host's few cores.
    # A fixed heap and a large first metaspace threshold: a growing heap
    # or metaspace makes the collector run full collections (200-350 ms
    # each, every few seconds) that land inside timed operations.
    cmd = (["java", "-XX:-UsePerfData", "-XX:+UseParallelGC", f"-Xms{HEAP}", f"-Xmx{HEAP}",
            "-XX:MetaspaceSize=512m", f"-Djava.io.tmpdir={tmpdir}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes, jars]), main] + args)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                env=env, start_new_session=True)

        def stop(*_):
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass

        signal.signal(signal.SIGTERM, lambda *a: (stop(), sys.exit(3)))
        try:
            out, _ = proc.communicate(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            stop()
            proc.wait()
            fail(f"run exceeded {RUN_LIMIT_S} s")
        finally:
            stop()
    with open(log_path) as log:
        for line in log:
            if line.startswith("[perfbench]"):
                sys.stderr.write(line)
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=["serve", "analytics"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="run the benchmark's own tests instead of a workload")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                             "perfbench")
    os.makedirs(build_dir, exist_ok=True)
    jars = spark_jars()
    classes = build(build_dir, jars)

    results = os.path.join(build_dir, "results")
    work = os.path.join(build_dir, "work", f"{os.getpid()}-{int(time.time() * 1000)}")
    os.makedirs(results, exist_ok=True)
    os.makedirs(work)
    try:
        if a.selftest:
            code, out = run_java(classes, jars, "perfbench.SelfTest", [work],
                                 work, os.path.join(results, "selftest.log"))
            sys.stdout.write(out)
            sys.exit(code)
        tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
        code, out = run_java(
            classes, jars, "perfbench.Main",
            ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
             "--trace", str(a.trace), "--work", work, "--results", results,
             "--git", git_state(),
             "--digests", os.path.join(results, f"digests-{os.path.basename(classes)}"
                                                f"-{a.workload}-seed{a.seed}.json")],
            work, os.path.join(results, tag + ".log"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    if code != 0 or not lines or not lines[-1].startswith("{"):
        fail(f"run failed (exit {code}); see {os.path.relpath(results, ROOT)}/{tag}.log")
    print(lines[-1])


if __name__ == "__main__":
    main()
