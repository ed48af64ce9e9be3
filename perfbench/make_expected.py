#!/usr/bin/env python3
"""Recompute the suite's expected output fingerprints, and check them first.

    python3 perfbench/make_expected.py

Run from the root of a checkout. It runs every suite query twice through the
harness (the fingerprints must agree), dumps the same queries' outputs with
graft.Verify, and compares those with the DuckDB oracle through
tools/check.py. Only when every query matches does it rewrite
perfbench/data/expected-suite.tsv, which the benchmark then reuses on every
run instead of running an oracle. Rerun it only when the suite's input or
query list changes.
"""
import os
import shutil
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

DATA = os.path.join(run.HERE, "data")
TARGET = os.path.join(DATA, "expected-suite.tsv")


def main():
    jars = run.spark_jars()
    classes = run.build(jars)
    build = os.path.join(run.BUILD, "expected")
    shutil.rmtree(build, ignore_errors=True)
    os.makedirs(build)
    fresh = os.path.join(build, "expected-suite.tsv")
    r = subprocess.run([sys.executable, os.path.join(run.HERE, "run.py"), "--workload", "suite",
                        "--seed", "1", "--seconds", "1", "--expect", fresh])
    if r.returncode != 0:
        sys.exit("fingerprint pass failed")

    names = [l.split("\t")[0] for l in open(fresh) if l.strip()]
    out = os.path.join(build, "verify")
    cmd = ["java", "-XX:-UsePerfData"]
    for p in run.ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    tmp = tempfile.mkdtemp(dir=build)
    cmd += ["-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-cp", classes + ":" + os.path.join(jars, "*"),
            "graft.Verify", os.path.join(DATA, "sf0.001"), out] + names
    subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    check = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "check.py"), out,
                            os.path.join(DATA, "sf0.001")], stdout=subprocess.PIPE, text=True)
    print(check.stdout)
    if check.returncode != 0:
        sys.exit("oracle check failed: expected-suite.tsv left unchanged")
    shutil.copy(fresh, TARGET)
    print(f"wrote {os.path.relpath(TARGET, run.ROOT)}")


if __name__ == "__main__":
    main()
