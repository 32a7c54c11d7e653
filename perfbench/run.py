#!/usr/bin/env python3
"""End-to-end benchmark of graft's two runners.

Run from the root of a checkout:

    python3 perfbench/run.py --workload pipeline_text --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source on first use (sbt, offline,
output in .bench_build/), then starts one JVM that sets up a local Spark
session, stages the workload's inputs from the seed, warms up, times runs for
--seconds and, with --trace 1, replays one run under the tracer. The last line
of standard output is the summary JSON; the full record (every run, warm-up,
steal, spans) goes to --out, by default .bench_build/results/.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "target", "scala-2.13", "classes")
WORKLOADS = ("pipeline_text", "corpus_clean")
HEAP = "3g"
JVM_LIMIT_S = 170
# Spark 4 on JDK 17 outside spark-submit needs these opens (the list
# org.apache.spark.launcher.JavaModuleOptions hands to spark-submit).
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
         "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
         "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs",
         "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME", "")
    if not os.path.isdir(os.path.join(home, "jars")):
        fail("set SPARK_HOME to a Spark 4.1 install")
    return home


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no program sources (src/main/scala) next to the benchmark")
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "-batch", "-Dsbt.log.noformat=true", "Compile/products"],
                             cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                             timeout=800)
    if rc != 0:
        fail(f"build failed (exit {rc}); see {log}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def run_jvm(args, out_file):
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cores = len(os.sched_getaffinity(0))
    cp = os.pathsep.join([CLASSES, os.path.join(spark_home(), "jars", "*")])
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           *[a for p in OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dspark.local.dir={work}/tmp",
           f"-Dspark.sql.warehouse.dir={work}/warehouse",
           "-Dspark.ui.enabled=false",
           "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--cores", str(cores),
           "--pins", os.path.join(BENCH, "pins.json"), "--out", out_file]
    env = {k: v for k, v in os.environ.items() 
           if k not in ("SPARK_GRAFT_CPUS", "SPARK_LOCAL_DIRS")}
    log = os.path.join(BUILD, "results", f"{args.workload}-{args.seed}-t{args.trace}.log")
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=err, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(JVM_LIMIT_S, args.seconds + 150))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = None
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0:
        fail(f"benchmark JVM {'timed out' if rc is None else f'exited {rc}'}; see {log}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="full JSON record (default .bench_build/results/)")
    args = ap.parse_args()
    t0 = time.time()
    build()
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    out_file = os.path.abspath(args.out or os.path.join(
        BUILD, "results", f"{args.workload}-{args.seed}-t{args.trace}.json"))
    run_jvm(args, out_file)
    with open(out_file) as fh:
        rec = json.load(fh)
    rec["process_s"] = time.time() - t0
    with open(out_file, "w") as fh:
        json.dump(rec, fh, indent=1)
    print(json.dumps({k: rec[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
