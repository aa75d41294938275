#!/usr/bin/env python3
"""Same-window A/B of two checkouts on one benchmark workload.

    python3 tools/ab.py A_DIR B_DIR --workload ann_scale --seeds 1,2,3,4,5 \
        [--seconds 5] [--trace 0] [--out runs.json] [--claim METRIC]

For each seed it runs `python3 perfbench/run.py` once in each checkout,
alternating which side goes first, so both sides share the machine's
load. perfbench is run as each checkout has it; nothing is changed.
It prints, for every metric, each side's median and interquartile
range, the change of B's median against A's, and the pairs B won
(ties count for neither side; `better` is read from A's BENCHMARK.json,
or guessed from the unit for per-layer metrics), plus `nproc`. Failed
runs are listed and left out of the statistics. `--out` keeps every
run's metric line.

Each end-to-end metric of A's BENCHMARK.json also gets a verdict, with
its bound read as a fraction of A's median:
  - the `--claim` metric reads "gain" when B wins at least 9/10 of the
    pairs and B's median is better than A's by more than A's IQR, and
    "not shown" otherwise;
  - any other reads "unresolved" when A's IQR is wider than the bound
    and not every B run beats every A run, "worse" when B's median is
    worse than A's by more than the bound, and "ok" otherwise.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys


def run(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        return None, p.stderr[-2000:]
    return json.loads(lines[-1]), None


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], statistics.median(xs), q[2]


def benchmark(checkout):
    try:
        with open(os.path.join(checkout, "BENCHMARK.json")) as f:
            return json.load(f)
    except OSError:
        return {}


def verdict(xa, xb, up, bound, claimed):
    """The choosing-metrics rule for one end-to-end metric: B's runs `xb`
    against A's runs `xa`, paired by index, `up` = higher is better."""
    qa, qb = quartiles(xa), quartiles(xb)
    gain = (qb[1] - qa[1]) if up else (qa[1] - qb[1])
    iqr = qa[2] - qa[0]
    if claimed:
        wins = sum(1 for x, y in zip(xa, xb) if (y > x if up else y < x))
        return "gain" if wins >= 0.9 * len(xa) and gain > iqr else "not shown"
    scale = abs(qa[1]) or 1.0
    all_better = min(xb) > max(xa) if up else max(xb) < min(xa)
    if iqr / scale > bound and not all_better:
        return "unresolved"
    return "worse" if -gain / scale > bound else "ok"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="comma-separated seeds")
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--out")
    ap.add_argument("--claim", help="the end-to-end metric the change claims a gain on")
    a = ap.parse_args()
    seeds = [int(s) for s in a.seeds.split(",")]
    sides = {"A": os.path.abspath(a.a), "B": os.path.abspath(a.b)}
    runs = {"A": [], "B": []}
    failed = []
    for i, seed in enumerate(seeds):
        order = ["A", "B"] if i % 2 == 0 else ["B", "A"]
        got = {}
        for side in order:
            res, err = run(sides[side], a.workload, seed, a.seconds, a.trace)
            if res is None or res.get("failed"):
                failed.append((side, seed, err or f"{res['failed']} failed operations"))
            if res is not None:
                got[side] = res
                print(f"seed {seed} {side}: " + " ".join(
                    f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
                    if k in ("setup_s", "wall_s", "items_per_s", "answer_quality")),
                    file=sys.stderr, flush=True)
        for side in order:
            runs[side].append(got.get(side))
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"seeds": seeds, "workload": a.workload, "sides": sides,
                       "runs": runs, "failed": failed}, f, indent=1)
    bench = benchmark(sides["A"])
    better = {m["name"]: m["better"] for m in bench.get("end_to_end", []) + bench.get("per_layer", [])}
    bounds = {m["name"]: m["bound"] for m in bench.get("end_to_end", [])}
    names = [k for r in runs["A"] + runs["B"] if r for k in r["metrics"]]
    names = list(dict.fromkeys(names))
    print(f"workload {a.workload}, seeds {seeds}, nproc {os.cpu_count()}, "
          f"A={sides['A']}, B={sides['B']}")
    print(f"{'metric':34s} {'A median':>11s} {'A IQR':>11s} {'B median':>11s} "
          f"{'B IQR':>11s} {'delta':>8s} {'B wins':>7s}  verdict")
    for n in names:
        pairs = [(x["metrics"][n]["value"], y["metrics"][n]["value"])
                 for x, y in zip(runs["A"], runs["B"])
                 if x and y and n in x["metrics"] and n in y["metrics"]]
        if not pairs:
            continue
        xa = [p[0] for p in pairs]
        xb = [p[1] for p in pairs]
        qa, qb = quartiles(xa), quartiles(xb)
        delta = (qb[1] - qa[1]) / qa[1] * 100 if qa[1] else float("nan")
        up = better.get(n, "higher" if n.endswith("per_s") or n.startswith("qps.") else "lower")
        wins = sum(1 for x, y in pairs if (y > x if up == "higher" else y < x))
        v = verdict(xa, xb, up == "higher", bounds[n], n == a.claim) if n in bounds else ""
        print(f"{n:34s} {qa[1]:11.4g} {qa[2] - qa[0]:11.4g} {qb[1]:11.4g} "
              f"{qb[2] - qb[0]:11.4g} {delta:+7.1f}% {wins:>3d}/{len(pairs)}  {v}")
    for side, seed, err in failed:
        print(f"FAILED {side} seed {seed}: {err}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
