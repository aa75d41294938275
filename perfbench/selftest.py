#!/usr/bin/env python3
"""Self-test of the benchmark at tiny size.

    python3 perfbench/selftest.py      (from the repository root)

For every workload, traced and untraced, it runs perfbench/run.py at
`--size tiny` and checks that the run is correct and that the result
line carries exactly the metric names and units BENCHMARK.json lists.
Then it perturbs one answer of each workload in the kept run directory
and checks that the correctness checks reject it. Exits 0 when all of
this holds.
"""

import glob
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

SEED = 11


def run_tiny(workload, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), "--size", "tiny",
         "--keep"], stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if p.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def kept_dir(workload, trace):
    dirs = glob.glob(f"{run.RUN_ROOT}/{workload}-seed{SEED}-*-trace{trace}")
    assert len(dirs) == 1, dirs
    return dirs[0]


def rewrite(rows_dir, name, sql):
    """Replace the kept rows of `name` by `sql` over them (table t)."""
    d = f"{rows_dir}/{name}"
    files = glob.glob(f"{d}/*.parquet")
    con = checks.duckdb.connect()
    con.sql(f"CREATE TABLE t AS SELECT * FROM read_parquet({files!r})")
    shutil.rmtree(d)
    os.makedirs(d)
    con.sql(f"COPY ({sql}) TO '{d}/part-0.parquet' (FORMAT PARQUET)")


def perturbed_rejected(workload, rd, res):
    """The checks pass the kept answers, and reject them once one value
    is changed."""
    rows = f"{rd}/out/rows"
    if workload == "catalog":
        d = sorted(glob.glob(f"{rd}/data/cat_*"))[-1]
        with open(f"{d}/planted.json") as f:
            ledger = json.load(f)
        args = (d, rows, run.CATALOG_QUERIES, res["oracles"], run.SEARCHES["catalog"],
                gen.groundtruth(d), ledger)
        assert not checks.catalog(*args)[0], "unperturbed catalog answers rejected"
        rejected = []
        for name, sql in [
                ("q1_agg", "SELECT * REPLACE (sum_qty + 1 AS sum_qty) FROM t"),
                ("dedup_minhash_groups", "SELECT * REPLACE (member AS survivor_id) FROM t")]:
            keep = f"{rd}/keep"
            shutil.copytree(f"{rows}/{name}", keep)
            rewrite(rows, name, sql)
            rejected.append(bool(checks.catalog(*args)[0]))
            shutil.rmtree(f"{rows}/{name}")
            shutil.move(keep, f"{rows}/{name}")
        return all(rejected)
    d = glob.glob(f"{rd}/data/ann_*")[0]
    args = (d, rows, run.SEARCHES["ann_scale"], gen.groundtruth(d))
    assert not checks.ann(*args)[0], "unperturbed ann answers rejected"
    rewrite(rows, "gt_topk_l2", "SELECT * REPLACE (CASE WHEN rnk = 10 THEN bid + 1 ELSE bid END AS bid) FROM t")
    return bool(checks.ann(*args)[0])


def main():
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
            1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    ok = True
    for w in [x["name"] for x in bench["workloads"]]:
        for trace in (0, 1):
            r = run_tiny(w, trace)
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            if got != want[trace]:
                ok = False
                print(f"{w} trace={trace}: metrics differ: missing "
                      f"{sorted(set(want[trace]) - set(got))}, extra {sorted(set(got) - set(want[trace]))}, "
                      f"units {[(k, got[k], u) for k, u in want[trace].items() if k in got and got[k] != u]}")
            if not r["correct"] or r["failed"] or r["attempted"] < 1:
                ok = False
                print(f"{w} trace={trace}: not correct: {r['attempted']} attempted, {r['failed']} failed")
        rd = kept_dir(w, 0)
        if not perturbed_rejected(w, rd, checks.load_result(f"{rd}/out")):
            ok = False
            print(f"{w}: a perturbed answer passed the checks")
        for t in (0, 1):
            shutil.rmtree(kept_dir(w, t), ignore_errors=True)
        print(f"{w}: ok" if ok else f"{w}: FAILED", flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
