#!/usr/bin/env python3
"""Traced-run report: per-layer self time, counts and tracing overhead.

    python3 perfbench/report.py RECORD.json [RECORD.json ...]

Each RECORD is the JSON record of one run (run.py keeps them in
.bench_build/records; perfbench/baseline holds committed ones); other JSON
files given, such as baseline summaries, are skipped. Traced
records name their spans file, looked up beside the record. For each traced
record the report gives, per workload:

- self time per layer: every instant of an operation is charged to the
  innermost span open at that instant, so the layer times of an operation
  add up to its wall time exactly;
- the counts the harness recorded at the same boundaries;
- tracing overhead: the traced passes' median minus the untraced passes'
  median of the same run, and minus the median pass_s of the untraced
  records given, when there are any.
"""
import json
import os
import statistics
import sys

LAYER = {"api.build": "api", "action": "spark.driver", "spark.job": "spark.jobs",
         "lineage.attempt1": "lineage", "lineage.attempt2": "lineage"}
ORDER = ["api", "catalyst", "spark.jobs", "spark.driver", "lineage", "bench"]
# The earlier one-shot layer probe of all 108 queries (local[4], sf0.1,
# warm, one sample): 762 jobs, ~30 s of DataFrame construction, ~2.3 s of
# Catalyst optimise + plan for the final actions, 96 s of task time in
# 87.7 s of wall.
PROBE = {"queries": 108, "jobs": 762, "build_s": 30.0, "catalyst_s": 2.3, "task_s": 96.0,
         "wall_s": 87.7}


def layer(name):
    if name in LAYER:
        return LAYER[name]
    return "catalyst" if name.startswith("catalyst.") else "bench"


def self_times(spans):
    """Per-op {layer: microseconds}, charging each instant to the innermost open span."""
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    out = []
    for op, ss in sorted(by_op.items()):
        roots = [s for s in ss if s["parent"] == -1]
        if len(roots) != 1:
            continue
        root = roots[0]
        ids = {s["id"]: s for s in ss}

        def depth(s):
            d = 0
            while s["parent"] != -1 and s["parent"] in ids:
                s = ids[s["parent"]]
                d += 1
            return d

        depths = {s["id"]: depth(s) for s in ss}
        cuts = sorted({root["start_us"], root["end_us"]} |
                      {t for s in ss for t in (s["start_us"], s["end_us"])
                       if root["start_us"] < t < root["end_us"]})
        acc = {}
        for a, b in zip(cuts, cuts[1:]):
            live = [s for s in ss if s["start_us"] <= a and s["end_us"] >= b]
            top = max(live, key=lambda s: (depths[s["id"]], s["start_us"]))
            k = layer(top["name"])
            acc[k] = acc.get(k, 0) + (b - a)
        assert sum(acc.values()) == root["end_us"] - root["start_us"]
        out.append((root["name"], root["end_us"] - root["start_us"], acc))
    return out


def reconcile(L, queries, wall):
    """Per-query averages of a traced suite pass beside the 108-query probe's."""
    q, p = queries, PROBE
    rows = [("Spark jobs", L["spark.jobs"] / q, p["jobs"] / p["queries"]),
            ("DataFrame construction s (eager jobs included)", L["api.build_s"] / q,
             p["build_s"] / p["queries"]),
            ("Catalyst optimise + plan s", (L["catalyst.optimize_s"] + L["catalyst.plan_s"]) / q,
             p["catalyst_s"] / p["queries"]),
            ("wall s", wall / q, p["wall_s"] / p["queries"]),
            ("executor utilisation", L["spark.util"], p["task_s"] / (p["wall_s"] * 4))]
    print()
    print("| per query | this suite (sf0.001) | probe, 108 queries (sf0.1) |")
    print("|---|---|---|")
    for name, a, b in rows:
        print(f"| {name} | {a:.3f} | {b:.3f} |")
    print()


def main(paths):
    recs = [(p, r) for p, r in ((p, json.load(open(p))) for p in paths) if "trace" in r]
    untraced = {}
    for _, r in recs:
        if not r["trace"]:
            untraced.setdefault(r["workload"], []).append(r["metrics"]["pass_s"])
    for p, r in recs:
        if not r["trace"]:
            continue
        spans_file = os.path.join(os.path.dirname(p), os.path.basename(r["spans_file"]))
        spans = [json.loads(l) for l in open(spans_file)]
        ops = self_times(spans)
        passes = len(r["passes_traced"])
        total = {}
        for _, _, acc in ops:
            for k, v in acc.items():
                total[k] = total.get(k, 0) + v
        wall = sum(w for _, w, _ in ops)
        w = r["workload"]
        print(f"## {w} (seed {r['seed']}): {len(ops)} traced operations in {passes} passes")
        print()
        print("| layer | self s per pass | share |")
        print("|---|---|---|")
        for k in ORDER:
            if k in total:
                print(f"| {k} | {total[k] / 1e6 / passes:.3f} | {100 * total[k] / wall:.1f}% |")
        print(f"| all (= operation wall) | {wall / 1e6 / passes:.3f} | 100% |")
        print()
        by_name = {}
        for name, wl, _ in ops:
            by_name.setdefault(name, []).append(wl / 1e6)
        print("| operation | median wall s | samples |")
        print("|---|---|---|")
        for name, xs in sorted(by_name.items()):
            print(f"| {name} | {statistics.median(xs):.3f} | {len(xs)} |")
        print()
        L = r["metrics"]
        counts = ["spark.jobs", "spark.stages", "spark.tasks", "api.build_jobs",
                  "catalyst.plan_nodes", "catalyst.codegen_fallback", "spark.util", "spark.skew",
                  "api.build_s", "catalyst.analysis_s", "catalyst.optimize_s", "catalyst.plan_s",
                  "spark.gap_s", "spark.task_s"]
        print("per pass: " + ", ".join(f"{k} {L[k]:.4g}" for k in counts if k in L))
        if r.get("api_modules"):
            print("module wall per pass: " + ", ".join(
                f"{k} {v:.3f}" for k, v in sorted(r["api_modules"].items())))
        if w == "suite":
            reconcile(L, len(ops) / passes, statistics.median(r["passes_traced"]))
        traced_med = statistics.median(r["passes_traced"])
        same_run = statistics.median(r["passes_4"])
        line = (f"tracing overhead: traced pass {traced_med:.3f} s - untraced pass {same_run:.3f} s "
                f"(same run) = {traced_med - same_run:+.3f} s")
        if untraced.get(w):
            base = statistics.median(untraced[w])
            line += (f"; against the median pass_s {base:.3f} s of {len(untraced[w])} untraced runs: "
                     f"{traced_med - base:+.3f} s")
        print(line)
        print()
    return 0


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1:]))
