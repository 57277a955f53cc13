#!/usr/bin/env python3
"""graft benchmark: one command, two workloads.

    python3 perfbench/run.py --workload {ingest,lifecycle} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. The first run builds the engine from
../src together with the benchmark (sbt, offline) into
perfbench/target; later runs reuse the build while the sources are
unchanged. Each run starts one JVM (local[4], heap sized from MemTotal
by the same rule as the tier-1 tests, default JIT), keeps every file it writes
under perfbench/work/<run>/ and deletes that directory at exit. Traced
runs also leave their spans in perfbench/results/.

The last line of stdout is one JSON object: correct, attempted, failed
and metrics (end-to-end metrics with --trace 0, per-layer metrics with
--trace 1). See perfbench/METRICS.md for what each metric means.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "build.stamp")
WORKLOADS = ("ingest", "lifecycle")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 700

# Spark 4 on JDK 17 outside spark-submit needs these (the list
# org.apache.spark.launcher.JavaModuleOptions gives spark-submit).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(deadline):
    digest = source_digest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    print("[perfbench] building engine + benchmark with sbt", file=sys.stderr)
    # no sbt server: it would leave a socket in the system temp directory
    code = run_child(["sbt", "-batch", "-Dsbt.server.autostart=false",
                      "-J-XX:-UsePerfData", "compile", "Compile/copyResources"],
                     cwd=HERE, env=os.environ.copy(), out=sys.stderr,
                     limit=deadline - time.time())
    if code != 0:
        fail(f"build failed (sbt exit {code})")
    with open(STAMP, "w") as fh:
        fh.write(digest)


def run_child(cmd, cwd, env, out, limit):
    """Run cmd in its own process group; kill the group past `limit` s."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                         stderr=sys.stderr, start_new_session=True)
    try:
        return p.wait(timeout=max(1, limit))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} exceeded its time limit and was killed")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def heap():
    """Half of MemTotal in GiB, clamped to [2, 8]: the tier-1 rule."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()
    start = time.time()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC)}")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must point at a Spark installation")
    built_before = os.path.isdir(CLASSES)
    build(start + BUILD_LIMIT_S)
    limit = RUN_LIMIT_S if built_before else RUN_LIMIT_S + BUILD_LIMIT_S
    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    results = os.path.join(HERE, "results")
    os.makedirs(work, exist_ok=True)
    env = os.environ.copy()
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    jtmp = os.path.join(work, "jvm-tmp")
    os.makedirs(jtmp, exist_ok=True)
    # -UsePerfData: no hsperfdata file in the system temp directory either
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{heap()}",
            f"-Djava.io.tmpdir={jtmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{CLASSES}{os.pathsep}{os.path.join(spark_home, 'jars', '*')}",
              "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--tmp", work, "--results", results])
    out_path = os.path.join(work, "stdout.txt")
    try:
        with open(out_path, "w") as out:
            code = run_child(cmd, ROOT, env, out, limit - (time.time() - start))
        with open(out_path) as fh:
            lines = [l.rstrip("\n") for l in fh if l.strip()]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not lines:
        sys.stderr.write("\n".join(lines[-5:]) + "\n")
        fail(f"benchmark JVM exited with {code}")
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
