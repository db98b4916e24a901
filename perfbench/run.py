#!/usr/bin/env python3
"""Run one perfbench workload and print its result as the last stdout line.

Usage (from the repository root):

    python3 perfbench/run.py --workload proto_report --seed 1 --seconds 25 --trace 0

Builds the library with the repository's own sbt build (offline) and the
benchmark package against it when their sources changed, then runs the
workload in one JVM on Spark local[N], N = the number of usable cores.
Everything the run writes stays under .bench_build/ in the checkout.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("proto_report", "text_ingest")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def sources_digest():
    """Digest of every input of the two builds, to skip an up-to-date build."""
    files = []
    for pattern in ("build.sbt", "project/*.properties", "project/*.sbt",
                    "src/main/**/*", "perfbench/build.sbt",
                    "perfbench/project/*.properties", "perfbench/src/main/**/*"):
        files += [f for f in glob.glob(os.path.join(ROOT, pattern), recursive=True)
                  if os.path.isfile(f)]
    h = hashlib.sha256()
    for f in sorted(set(files)):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(env):
    stamp = os.path.join(BUILD, "build.stamp")
    digest = sources_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    sbt_env = dict(env, COURSIER_MODE="offline")
    for cwd in (ROOT, HERE):
        # sbt's own global state (server socket, compiler bridge) goes into
        # the build directory too, not the user's home
        r = subprocess.run(["sbt", "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global"),
                            "-batch", "compile"], cwd=cwd, env=sbt_env,
                           stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
        if r.returncode != 0:
            fail("build failed in " + os.path.relpath(cwd, ROOT))
    with open(stamp, "w") as fh:
        fh.write(digest)


def git_sha():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def loadavg():
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    a = p.parse_args()
    if a.seconds < 1:
        fail("--seconds must be >= 1")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("no library sources next to perfbench/ (build.sbt, src/main/scala/graft)")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must name a Spark distribution with a jars/ directory")

    cpus = len(os.sched_getaffinity(0))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    if not env["SPARK_GRAFT_CPUS"].isdigit() or int(env["SPARK_GRAFT_CPUS"]) < 1:
        fail("core count is not a positive integer: " + env["SPARK_GRAFT_CPUS"])
    os.makedirs(BUILD, exist_ok=True)
    build(env)

    tag = "%s-%d-t%s-%d" % (a.workload, a.seed, a.trace, os.getpid())
    work = os.path.join(BUILD, "work", tag)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    trace_out = os.path.join(BUILD, "traces", tag + ".jsonl")
    cp = os.pathsep.join([os.path.join(HERE, "target", "scala-2.13", "classes"),
                          os.path.join(ROOT, "target", "scala-2.13", "classes"),
                          os.path.join(spark_home, "jars", "*")])
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", "-Djava.io.tmpdir=" + tmp,
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", work,
            "--trace-out", trace_out]

    load_start = loadavg()
    # Spark's scratch space stays in the work directory as well
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("run exceeded %d s" % RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        fail("benchmark JVM exited with code %d" % proc.returncode)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line")
    stamp = {"stamp": {"git_sha": git_sha(), "nproc": cpus, "loadavg_start": load_start,
                       "loadavg_end": loadavg(), "seed": a.seed, "workload": a.workload,
                       "trace": int(a.trace), "seconds": a.seconds}}
    if a.trace == "1":
        stamp["stamp"]["trace_file"] = os.path.relpath(trace_out, ROOT)
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, tag + ".json"), "w") as fh:
        json.dump({"stamp": stamp["stamp"], "info": json.loads(lines[-2]) if len(lines) > 1
                   else None, "result": result}, fh)
    for l in lines[:-1]:
        print(l)
    print(json.dumps(stamp))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
