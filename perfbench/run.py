#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload suite|flagship|lineage --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. It compiles the engine (src/main/scala)
together with the harness (perfbench/harness) with the Scala compiler that
ships in Spark's jars directory, caches the classes under .bench_build keyed
by a hash of the sources, runs one workload in a JVM at local[4] and prints
the metrics. The last line of stdout is the result object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end set, with --trace 1 the
per-layer set (BENCHMARK.json lists both). The full record and, for traced
runs, the spans are kept in .bench_build/records. The exit code is non-zero
when an output is wrong or the run fails.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """$SPARK_HOME/jars, or the jars beside the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail("no Spark jars with a Scala compiler found: set SPARK_HOME")
    return jars


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not engine:
        fail("no engine sources under src/main/scala: run from the root of a checkout")
    harness = sorted(glob.glob(os.path.join(HERE, "harness/**/*.scala"), recursive=True))
    return engine + harness


def build(jars):
    """Compile once per source hash; returns the classes directory."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, ".complete")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    scala = [glob.glob(os.path.join(jars, f"scala-{n}-*.jar"))[0]
             for n in ("compiler", "library", "reflect")]
    t0 = time.time()
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(scala), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", os.path.join(jars, "*")] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        fail("compilation failed")
    os.replace(tmp, out)
    open(os.path.join(out, ".complete"), "w").close()
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    print(f"perfbench: built {len(srcs)} sources in {time.time() - t0:.1f} s", file=sys.stderr)
    return out


def run_jvm(classes, jars, args, work, record, log):
    tmpdir = os.path.join(work, "tmp")
    os.makedirs(tmpdir, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", f"-Djava.io.tmpdir={tmpdir}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", classes + ":" + os.path.join(jars, "*"), "perfbench.PerfBench",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", os.path.join(HERE, "data"), "--work", work, "--out", record]
    if args.expect:
        cmd += ["--expect", os.path.abspath(args.expect)]
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return -1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["suite", "flagship", "lineage"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--expect", help="write the suite's expected fingerprints here and exit")
    args = ap.parse_args()

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    jars = spark_jars()
    classes = build(jars)
    runs = os.path.join(BUILD, "runs")
    work = os.path.join(runs, f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    records = os.path.join(BUILD, "records")
    os.makedirs(records, exist_ok=True)
    stem = os.path.join(records, f"{args.workload}-s{args.seed}-t{args.trace}")
    record, log = stem + ".json", stem + ".log"
    if os.path.exists(record):
        os.remove(record)
    try:
        code = run_jvm(classes, jars, args, work, record, log)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not (args.expect or os.path.exists(record)):
        with open(log) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"harness exited with {code}", 1)
    if args.expect:
        return 0

    rec = json.load(open(record))
    got = rec["metrics"]
    metrics = {}
    for m in wanted:
        v = got.get(m["name"])
        if v is None or v != v:
            fail(f"metric {m['name']} was not measured", 1)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    host = rec["host"]
    for name, v in metrics.items():
        print(f"{name:40s} {v['value']:.6g} {v['unit']}")
    line = (f"host: spin scaling ceiling {host['spin_scale']:.3f} at 4 threads")
    if "other_cpu_frac" in host:
        line += (f", other processes used {100 * host['other_cpu_frac']:.1f}% of the CPUs"
                 + (" (CONTENDED)" if host["contended"] else ""))
    print(line)
    if rec.get("failures"):
        for f in rec["failures"]:
            print(f"FAILED: {f}")
    print(f"{'fail_frac':40s} {rec['fail_frac']:.6g} ratio")
    print(f"checked {rec['attempted']} operations: {rec['failed']} failed, "
          f"{rec['unchecked']} unchecked; record {os.path.relpath(record, ROOT)}")
    print(json.dumps({"correct": bool(rec["correct"]), "attempted": int(rec["attempted"]),
                      "failed": int(rec["failed"]), "metrics": metrics}))
    return 0 if rec["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
