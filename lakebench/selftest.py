#!/usr/bin/env python3
"""Self-test of the benchmark. Run from the repository root:

    python3 lakebench/selftest.py

Runs every workload at a tiny size and checks that
  1. the result line names every metric of BENCHMARK.json with its unit
     (end-to-end untraced, per-layer traced), and
  2. each correctness check fires on deliberately corrupted input: the run
     exits 1 with "CHECK FAILED: <check>" on stderr and prints no result.
Exits non-zero on the first problem.
"""
import json
import os
import subprocess
import sys

RUN = [sys.executable, os.path.join("lakebench", "run.py")]

# (workload, corruption, the check that must fire)
CORRUPTIONS = [
    ("lake_ingest", "lake_file", "exactly-once"),   # a lake file deleted
    ("lake_ingest", "manifest_entry", "exactly-once via manifest"),  # a manifest entry dropped
    ("lake_ingest", "dup_segment", "exactly-once"),  # a log segment duplicated
    ("lake_ingest", "drop_dlq", "dlq"),              # the DLQ deleted
    ("lake_ingest", "order", "ordering"),            # one key's payloads swapped
    ("ann_serve", "truth", "ann answer"),            # the corpus truth altered
    ("lake_query", "truth", "sql answer"),           # one key dropped from the truth
]


def run(workload, trace="0", corrupt="none"):
    cmd = RUN + ["--workload", workload, "--seed", "7", "--seconds", "2",
                 "--trace", trace, "--scale", "tiny", "--corrupt", corrupt]
    return subprocess.run(cmd, capture_output=True, text=True, timeout=200)


def fail(msg):
    print(f"selftest FAILED: {msg}")
    sys.exit(1)


def main():
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    want = {"0": {m["name"]: m["unit"] for m in bench["end_to_end"]},
            "1": {m["name"]: m["unit"] for m in bench["per_layer"]}}
    workloads = [w["name"] for w in bench["workloads"]]
    if "lake_query" not in workloads:  # run by hand, still self-tested
        workloads.append("lake_query")
    for w in workloads:
        for trace in ("0", "1"):
            p = run(w, trace)
            if p.returncode != 0:
                fail(f"{w} trace={trace} exited {p.returncode}: {p.stderr[-2000:]}")
            r = json.loads(p.stdout.strip().splitlines()[-1])
            if set(r) != {"correct", "attempted", "failed", "metrics"} or not r["correct"] \
                    or r["attempted"] < 1 or r["failed"] != 0:
                fail(f"{w} trace={trace} result header: {r}")
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            if got != want[trace]:
                missing = set(want[trace].items()) ^ set(got.items())
                fail(f"{w} trace={trace} metrics differ from BENCHMARK.json: {sorted(missing)}")
            print(f"ok  {w} trace={trace}: {len(got)} metrics with units")
    for w, corrupt, check in CORRUPTIONS:
        p = run(w, corrupt=corrupt)
        lines = p.stdout.strip().splitlines()
        printed = bool(lines) and lines[-1].startswith("{")
        if p.returncode != 1 or printed or f"CHECK FAILED: {check}" not in p.stderr:
            fail(f"{w} --corrupt {corrupt}: want exit 1 and 'CHECK FAILED: {check}', got exit "
                 f"{p.returncode}, result printed={printed}, stderr tail: {p.stderr[-1500:]}")
        print(f"ok  {w} --corrupt {corrupt}: '{check}' check fired")
    print("selftest passed")


if __name__ == "__main__":
    main()
