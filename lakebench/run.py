#!/usr/bin/env python3
"""Lake-path benchmark entry point. Run from the repository root:

    python3 lakebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: lake_ingest, lake_query, ann_serve (NOTES.md).
Builds the program from source on first use (build.py), then runs one
workload in one JVM. The last stdout line is the JSON result; a failed
correctness check exits non-zero without one. Extra flags for the
self-test: --scale tiny, --corrupt <kind>.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("lake_ingest", "lake_query", "ann_serve")
TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    ap.add_argument("--corrupt", default="none")
    a = ap.parse_args()
    classes = build.build()
    jars = os.path.join(build.spark_jars(), "*")
    work = os.path.join(".bench_build", "work")
    shutil.rmtree(work, ignore_errors=True)
    cmd = (["java", "-Xmx3g", "-Xss8m"] +
           [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-Dlog4j2.configurationFile=lakebench/log4j2.properties",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{classes}:{jars}", "lakebench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--scale", a.scale, "--corrupt", a.corrupt, "--work", work])
    p = subprocess.Popen(cmd, start_new_session=True)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = p.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        print(f"lakebench: {a.workload} did not finish in {TIMEOUT_S} s", file=sys.stderr)
        code = 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
