#!/usr/bin/env python3
"""Repeat the benchmark over seeds and summarise each end-to-end metric.

    python3 perfbench/baseline.py --workload suite --seeds 1-10 [--out DIR] [--traced SEED]

Run from the root of a checkout. Each seed is one untraced run.py run; the
summary gives, per metric, the median, the quartiles
(statistics.quantiles(values, n=4)) and the spread: the distance between the
quartiles as a share of the median, next to the bound BENCHMARK.json sets.
With --out, every run's record and a summary.json are written into DIR;
--traced adds one traced run for that seed, with its spans.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
RECORDS = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "records")


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def run(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       stdout=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return p.returncode, result, time.time() - t0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--out")
    ap.add_argument("--traced", type=int)
    args = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    values, walls, failed = {}, [], 0
    for s in seeds(args.seeds):
        code, res, wall = run(args.workload, s, spec["run_seconds"], 0)
        walls.append(wall)
        if code != 0 or res is None or not res["correct"]:
            failed += 1
            print(f"seed {s}: FAILED (exit {code})")
            continue
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {s}: {wall:.0f} s  " +
              "  ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        if args.out:
            os.makedirs(args.out, exist_ok=True)
            shutil.copy(os.path.join(RECORDS, f"{args.workload}-s{s}-t0.json"), args.out)
    summary = {"workload": args.workload, "runs": len(walls), "failed_runs": failed,
               "run_wall_s": {"median": statistics.median(walls), "max": max(walls)}, "metrics": {}}
    print(f"\n{args.workload}: {len(walls)} runs, {failed} failed, "
          f"wall per run median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    print(f"{'metric':16s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s} {'bound':>6s}")
    for m in spec["end_to_end"]:
        xs = values.get(m["name"], [])
        if len(xs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / statistics.median(xs)
        summary["metrics"][m["name"]] = {"unit": m["unit"], "median": statistics.median(xs),
                                         "q1": q1, "q3": q3, "spread": spread, "bound": m["bound"],
                                         "values": xs}
        flag = "" if spread < m["bound"] / 3 else ("  above bound/3" if spread <= m["bound"] else "  ABOVE BOUND")
        print(f"{m['name']:16s} {statistics.median(xs):12.5g} {q1:12.5g} {q3:12.5g} "
              f"{spread:8.3f} {m['bound']:6.2f}{flag}")
    if args.out:
        if args.traced is not None:
            code, res, wall = run(args.workload, args.traced, spec["run_seconds"], 1)
            stem = os.path.join(RECORDS, f"{args.workload}-s{args.traced}-t1")
            for ext in (".json", ".spans.jsonl"):
                shutil.copy(stem + ext, args.out)
            summary["traced_run"] = {"seed": args.traced, "exit": code, "wall_s": wall}
        with open(os.path.join(args.out, "summary.json"), "w") as f:
            json.dump(summary, f, indent=2)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
