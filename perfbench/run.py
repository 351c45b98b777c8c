#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one measuring window.

    python3 perfbench/run.py --workload search-hot --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source on first use (build.py),
then runs one JVM with Spark local[4]. The JVM prints a host line, every
metric by name with its unit, a detail JSON line, and as its last line the
result object {"correct", "attempted", "failed", "metrics"}. The exit code
is 0 only when every operation matched the oracle.

`--workload all` runs every workload in turn (see README.md).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["search-hot", "search-cold", "ingest-lsm", "dedup-near"]
TIMEOUT_S = 170

JVM_OPTS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
] + ["-Xmx3g", "-Xss8m"]


def declared():
    """BENCHMARK.json at the checkout root: (workloads, end-to-end, per-layer)."""
    path = os.path.join(build.ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        return set(), [], []
    with open(path) as f:
        b = json.load(f)
    names = lambda key: [m["name"] for m in b.get(key, [])]  # noqa: E731
    return set(names("workloads")), names("end_to_end"), names("per_layer")


def run_one(classes, workload, seed, seconds, trace):
    work = os.path.join(build.build_dir(), "work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    traces = os.path.join(build.build_dir(), "traces")
    os.makedirs(traces, exist_ok=True)
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={work}", "-cp", cp, "perfbench.Main",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), "--work", work,
           "--trace-out", os.path.join(traces, f"{workload}-seed{seed}.jsonl")]
    workloads, end_to_end, per_layer = declared()
    cmd += ["--metrics", ",".join(per_layer if trace else end_to_end),
            "--require", "1" if workload in workloads else "0"]
    proc = subprocess.Popen(cmd, cwd=work)
    try:
        rc = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: {workload} exceeded {TIMEOUT_S}s, killed", file=sys.stderr)
        rc = 124
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    return rc


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM (run_one's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    classes = build.ensure_built()
    sys.stdout.flush()
    rc = 0
    for w in WORKLOADS if a.workload == "all" else [a.workload]:
        rc = max(rc, run_one(classes, w, a.seed, a.seconds, a.trace))
    return rc


if __name__ == "__main__":
    sys.exit(main())
