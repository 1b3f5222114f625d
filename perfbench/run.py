#!/usr/bin/env python3
"""Benchmark command: build the library and harness from source, run one workload.

    python3 perfbench/run.py --workload etl_scan --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run from anywhere inside a checkout of the repository. The harness prints
its metrics by name and unit, and the last stdout line is the result as
JSON. Exit code 0 means every output check passed.
"""
import argparse
import os
import shutil
import subprocess
import sys
import threading

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402  (the benchmark's build file)

WORKLOADS = ("etl_scan", "opmap_wide", "neardup")
JVM_TIMEOUT_S = 170
HEAP = "3g"
# Spark on JDK 17 outside spark-submit (as in the repository's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=8)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--selftest", action="store_true", help="run the benchmark's own tests")
    a = p.parse_args()
    if not a.selftest and not a.workload:
        p.error("--workload is required")

    try:
        classes = build.build()
        jars = build.spark_jars()
    except build.BuildError as e:
        print("[perfbench] " + str(e), file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    tag = "selftest" if a.selftest else "%s-%d-%d" % (a.workload, a.seed, a.trace)
    work = os.path.join(build.BUILD_DIR, "work", "%s-%d" % (tag, os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    logs = os.path.join(build.BUILD_DIR, "logs")
    os.makedirs(logs, exist_ok=True)
    spans = os.path.join(build.BUILD_DIR, "traces", tag + ".json")
    os.makedirs(os.path.dirname(spans), exist_ok=True)
    cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:-UsePerfData", "-XX:+ExitOnOutOfMemoryError",
           "-Djava.io.tmpdir=" + tmp,
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    for m in ADD_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
            "--cores", str(cores), "--work", work, "--spans", spans]
    if a.selftest:
        cmd += ["--selftest", "1"]
    else:
        cmd += ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace)]

    log_path = os.path.join(logs, tag + ".log")
    last = None
    timed_out = threading.Event()
    with open(log_path, "w") as err:
        proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE, stderr=err, text=True)

        def kill():
            timed_out.set()
            proc.kill()

        watchdog = threading.Timer(JVM_TIMEOUT_S, kill)
        watchdog.start()
        try:
            for line in proc.stdout:
                line = line.rstrip("\n")
                if line.startswith("{"):
                    last = line  # the result; printed last, after the JVM exits
                else:
                    print(line, flush=True)
            proc.wait()
        finally:
            watchdog.cancel()
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if timed_out.is_set():
        last = None
        print("[perfbench] harness killed after %d s" % JVM_TIMEOUT_S, file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 and last is None:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        print("[perfbench] harness exited with %s; log: %s" % (proc.returncode, log_path), file=sys.stderr)
        return 1
    if last is not None:
        print(last, flush=True)
    return 0 if proc.returncode == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
