#!/usr/bin/env python3
"""Test of the flagship input generator and of the benchmark's oracle replay.

    python3 perfbench/test_generator.py

Run from the root of a checkout. It generates small tables with the
benchmark's generator (seed 7 twice, seed 8 once) and checks that:

- the same seed gives an identical table and a different seed another one;
- the table has the stated layout (files and row groups);
- the DuckDB oracles of q16, q17 and q18 (DocQueries.oracle) return exactly
  the rows the benchmark's replay expects;
- the engine's q16/q17 fingerprints equal the replay's, and its q18 lineage
  equals the replay's per-tile rows.

Exit status 0 means every check passed.
"""
import csv
import glob
import json
import os
import shutil
import subprocess
import sys

import duckdb
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

FILES, ROW_GROUPS = 3, 6  # GenCheck.Layout: 3 files x 2 row groups


def table(d):
    t = pq.read_table(os.path.join(d, "documents.parquet")).sort_by("doc_id")
    return t.to_pydict()


def layout(d):
    files = sorted(glob.glob(os.path.join(d, "documents.parquet", "*.parquet")))
    return len(files), sum(pq.ParquetFile(f).metadata.num_row_groups for f in files)


def rows(path):
    with open(path) as f:
        r = csv.reader(f)
        next(r)
        return sorted(tuple(x) for x in r)


def main():
    jars = run.spark_jars()
    classes = run.build(jars)
    out = os.path.join(run.BUILD, "gencheck")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-XX:-UsePerfData"]
    for p in run.ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    cmd += ["-Xmx2g", f"-Djava.io.tmpdir={tmp}", "-cp", classes + ":" + os.path.join(jars, "*"),
            "perfbench.GenCheck", out, os.path.join(run.HERE, "data", "sf0.001", "nation.parquet")]
    subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    summary = json.load(open(os.path.join(out, "summary.json")))

    failures = []

    def check(ok, what):
        print(("ok   " if ok else "FAIL ") + what)
        if not ok:
            failures.append(what)

    a1, a2, b = (os.path.join(out, n) for n in ("a1", "a2", "b"))
    check(table(a1) == table(a2), "same seed gives an identical table")
    check(table(a1) != table(b), "another seed gives another table")
    for n, d in (("a1", a1), ("a2", a2), ("b", b)):
        check(layout(d) == (FILES, ROW_GROUPS), f"{n}: {FILES} files, {ROW_GROUPS} row groups")
        s = summary[n]
        check(s["q16_replay"] == s["q16_engine"], f"{n}: engine q16 fingerprint equals the replay's")
        check(s["q17_replay"] == s["q17_engine"], f"{n}: engine q17 fingerprint equals the replay's")
        check(s["q18_engine_matches_replay"], f"{n}: engine q18 lineage equals the replay's")
    oracle = summary["oracle"]
    for n, d in (("a1", a1), ("b", b)):
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet/*.parquet'")
        con.execute(f"CREATE VIEW nation AS SELECT * FROM '{d}/nation.parquet'")
        for q, f in (("q16_docs_pip", "q16"), ("q17_span_tiles", "q17"), ("q18_lineage_tiles", "q18")):
            got = sorted(tuple(str(v) for v in r) for r in con.execute(oracle[q]).fetchall())
            check(got == rows(os.path.join(d, f"replay_{f}.csv")),
                  f"{n}: DuckDB {q} oracle equals the replay ({len(got)} rows)")
    print("ALL OK" if not failures else f"{len(failures)} FAILURES")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
