#!/usr/bin/env python3
"""Run every workload untraced and traced, and store all their metrics.

    python3 perfbench/baseline.py --seeds 1 --out perfbench/results/mine.json

For each workload and seed this runs `run.py --trace 0` and `--trace 1` and
keeps each run's host line and detail metrics. The tracing overhead is the
traced value minus the untraced one for every metric both runs report.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402


def one(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       capture_output=True, text=True)
    out = {"rc": p.returncode}
    for line in p.stdout.splitlines():
        if line.startswith('{"perfbench_host"'):
            out["host"] = json.loads(line)["perfbench_host"]
        elif line.startswith('{"perfbench_detail"'):
            out["detail"] = json.loads(line)["perfbench_detail"]
        elif line.startswith('{"correct"'):
            out["result"] = json.loads(line)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", default="1")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--workloads", default=",".join(run.WORKLOADS))
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    runs = []
    for w in a.workloads.split(","):
        for seed in [int(s) for s in a.seeds.split(",")]:
            plain, traced = one(w, seed, a.seconds, 0), one(w, seed, a.seconds, 1)
            pm = plain.get("detail", {}).get("metrics", {})
            tm = traced.get("detail", {}).get("metrics", {})
            overhead = {k: {"untraced": pm[k]["value"], "traced": tm[k]["value"],
                            "delta": tm[k]["value"] - pm[k]["value"], "unit": pm[k]["unit"]}
                        for k in pm if k in tm and not k.startswith("traced.")}
            runs.append({"workload": w, "seed": seed, "untraced": plain, "traced": traced,
                         "tracing_overhead": overhead})
            print(f"{w} seed {seed}: rc {plain['rc']}/{traced['rc']}", file=sys.stderr)
            for k in ("op_p50_ms", "throughput_per_s"):
                if k in overhead:
                    o = overhead[k]
                    print(f"  {k:18s} untraced {o['untraced']:10.2f}  traced {o['traced']:10.2f} {o['unit']}",
                          file=sys.stderr)
    os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
    with open(a.out, "w") as f:
        json.dump({"seconds": a.seconds, "runs": runs}, f, indent=1)
        f.write("\n")
    return 0 if all(r["untraced"]["rc"] == 0 and r["traced"]["rc"] == 0 for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
