#!/usr/bin/env python3
"""Compile graft's main sources plus the benchmark's own sources with the
Scala compiler that ships in Spark's jars directory.

Output goes to $CARGO_TARGET_DIR (default <checkout>/.bench_build) as
perfbench-classes-<hash>, where the hash covers every compiled source and
this file, so an unchanged tree is built once. Run directly (`python3 perfbench/build.py`) to prebuild.
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")


def spark_jars():
    """$SPARK_HOME/jars, else the jars next to the first spark-submit on the PATH
    that has them."""
    bins = [os.path.join(os.environ["SPARK_HOME"], "bin")] if os.environ.get("SPARK_HOME") else []
    bins += [d for d in os.environ.get("PATH", "").split(os.pathsep)
             if os.path.isfile(os.path.join(d, "spark-submit"))]
    for b in bins:
        jars = os.path.join(os.path.dirname(os.path.realpath(b)), "jars")
        if os.path.isdir(jars):
            return jars
    raise SystemExit("perfbench: Spark jars not found (set SPARK_HOME or put Spark's bin on the PATH)")


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources():
    if not os.path.isdir(GRAFT_SRC):
        raise SystemExit(f"perfbench: graft sources not found at {GRAFT_SRC}")
    out = []
    for base in (GRAFT_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def ensure_built():
    """Returns the classes directory, compiling first when needed."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(build_dir(), "perfbench-classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args = os.path.join(build_dir(), "scalac-args.txt")
    with open(args, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={build_dir()}", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp, "@" + args]
    print(f"perfbench: compiling {len(srcs)} sources into {out}", file=sys.stderr)
    rc = subprocess.run(cmd, stdout=sys.stderr).returncode
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"perfbench: compile failed (exit {rc})")
    for old in os.listdir(build_dir()):
        if old.startswith("perfbench-classes-") and os.path.join(build_dir(), old) != tmp:
            shutil.rmtree(os.path.join(build_dir(), old), ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(ensure_built())
