#!/usr/bin/env python3
"""graft benchmark: one command, one workload, one JSON result line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. It builds the engine and the harness from
source (perfbench/build.py), generates the workload's inputs from the
seed (perfbench/gen.py), runs the closed-loop client (harness/Main.scala)
on Spark local[nproc] in a fresh run directory with its own artifact
store and Spark scratch dir, checks every answer (perfbench/checks.py)
and prints, as the last stdout line,

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). The line before it records the environment. What each
workload is for and which end-to-end metric each per-layer metric
should move is in perfbench/LAYERS.md.
"""

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

DEADLINE_S = 170
RUN_ROOT = ".bench_run"
TRACE_OUT = ".bench_out"

# Sizes per workload. `full` is what the benchmark measures; `tiny` is
# the self-test's. Every set-up repetition gets its own copy of the
# input, so each builds its artifacts from nothing. `min_passes` is the
# fewest timed passes a run makes, whatever --seconds says. The first
# pass is the warm-up (the JIT's first calls of every query); each
# operation's time is its median over the later passes, so one slow
# call does not move the result.
SIZES = {
    "full": {
        "catalog": {"scale": 0.01, "setup_reps": 3, "min_passes": 4},
        "ann_scale": {"n_base": 34000, "n_query": 50, "dim": 512,
                      "setup_reps": 3, "min_passes": 3},
    },
    "tiny": {
        "catalog": {"scale": 0.01, "setup_reps": 2, "min_passes": 2},
        "ann_scale": {"n_base": 3000, "n_query": 20, "dim": 16,
                      "setup_reps": 2, "min_passes": 2},
    },
}

# The catalog subset, in name order: a query per family, the PQ search,
# and the dedup and text operators of a document pipeline. A full
# 81-query pass takes about a minute here, more than a run may take.
CATALOG_QUERIES = sorted([
    "q1_agg", "pq_search", "hnsw_layers", "knn_insert", "text_quality",
    "dedup_minhash_groups", "pack_contexts", "mm_manifest",
])

FAMILIES = ["relational", "vector", "hnsw", "incremental", "text", "dedup",
            "curation", "multimodal"]

# Searches whose rows are checked against the exact groundtruth, by
# workload, and the short name of each in the per-layer metrics.
SEARCHES = {"ann_scale": ["gt_topk_l2", "ivf_search"], "catalog": ["pq_search"]}
SEARCH_NAMES = {"gt_topk_l2": "brute", "ivf_search": "ivf", "pq_search": "pq"}

# The document-pipeline operators the catalog subset runs.
DOCS_OPS = {"dedup_minhash_groups": "minhash", "text_quality": "quality"}

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def heap():
    """Driver heap: half the machine's memory, between 2 and 6 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
        return f"{max(2, min(6, kb // 2 // (1 << 20)))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def median(xs):
    return statistics.median(xs) if xs else 0.0


def prepare(workload, seed, size, run_dir):
    """Generate the inputs; returns (harness args, check context)."""
    sz = SIZES[size][workload]
    reps = sz["setup_reps"]
    if workload == "catalog":
        dirs = [f"{run_dir}/data/cat_{i}" for i in range(reps)]
        gen.catalog_tables(dirs[0], seed, sz["scale"])
        for d in dirs[1:]:
            shutil.copytree(dirs[0], d)
        main = dirs[-1]
        gt = gen.groundtruth(main)
        n_emb = gen.pq.read_metadata(f"{main}/embeddings.parquet").num_rows
        texts = gen.pq.read_table(f"{main}/documents.parquet", columns=["text"]).column(0)
        with open(f"{main}/planted.json") as f:
            ledger = json.load(f)
        return ["--setup", ",".join(dirs), "--measure", main,
                "--queries", ",".join(CATALOG_QUERIES)], {
            "dir": main, "gt": gt, "n_query": len(gt), "n_base": n_emb - len(gt),
            "ledger": ledger, "n_docs": len(texts),
            "chars": sum(len(t) for t in texts.to_pylist())}
    main = f"{run_dir}/data/ann_{sz['n_base']}x{sz['dim']}"
    gt = gen.ann_corpus(main, seed, sz["n_base"], sz["n_query"], sz["dim"])
    return ["--setup", ",".join([main] * reps), "--measure", main], {
        "dir": main, "gt": gt, "n_base": sz["n_base"], "n_query": sz["n_query"]}


def run_harness(args, run_dir, deadline):
    store = f"{run_dir}/store"
    for d in (store, f"{run_dir}/spark-local", f"{run_dir}/tmp"):
        os.makedirs(d, exist_ok=True)
    if os.listdir(store):
        raise RuntimeError(f"artifact store {store} is not empty before the run")
    env = dict(os.environ)
    env["SPARK_GRAFT_INDEX_DIR"] = os.path.abspath(store)
    env["SPARK_LOCAL_DIRS"] = os.path.abspath(f"{run_dir}/spark-local")
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
    cmd += [f"-Xmx{heap()}", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={os.path.abspath(run_dir)}/tmp",
            "-cp", build.classpath(), "graftbench.Main"] + args
    with open(f"{run_dir}/harness.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise RuntimeError("harness ran past the deadline")
    if rc != 0:
        with open(f"{run_dir}/harness.log") as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"harness exited {rc}:\n{tail}")
    return checks.load_result(f"{run_dir}/out")


def op_times(res, phase, which):
    """{operation: [seconds, ...]} of one phase, over the given passes."""
    out = {}
    for o in res["ops"]:
        if o["phase"] == phase and o["pass"] in which:
            out.setdefault(o["name"], []).append(o["wall_s"])
    return out


def warm_times(res):
    """Median seconds of each timed operation over the passes after the
    warm-up pass, and of the once-per-run part (pass 0)."""
    warm = {p["pass"] for p in res["passes"] if p["pass"] != 1}
    return {k: median(v) for k, v in op_times(res, "measure", warm).items()}


def passes(res, repeated=True):
    return [p for p in res["passes"] if (p["pass"] > 0) == repeated]


def pass_time(res):
    """A warm pass's time as the sum over its operations of each one's
    median over the passes after the warm-up."""
    later = {p["pass"] for p in res["passes"] if p["pass"] > 1}
    return sum(median(v) for v in op_times(res, "measure", later).values())


def end_to_end(workload, res, ctx, quality):
    once = sum(p["wall_s"] for p in passes(res, repeated=False))
    per_pass = pass_time(res)
    if workload == "catalog":
        items = len(CATALOG_QUERIES) / per_pass
    else:
        items = len(SEARCHES[workload]) * ctx["n_query"] / per_pass
    return {
        "setup_s": (median(res["setup_s"]), "s"),
        "wall_s": (once + per_pass, "s"),
        "items_per_s": (items, "1/s"),
        "answer_quality": (quality, "frac"),
    }


def spark_layers(res):
    """Spark-engine totals over one traced measured pass (plus the
    once-per-run part, if any)."""
    rows = [l for l in res.get("layers", []) if l["phase"] == "measure" and l["traced"]]
    traced_passes = sorted({l["pass"] for l in rows if l["pass"] > 0})
    keep = {0} | ({traced_passes[-1]} if traced_passes else set())
    rows = [l for l in rows if l["pass"] in keep]
    durs = sorted(d for l in rows for d in l["task_durations"])
    mb = 1.0 / (1 << 20)
    return rows, {
        "spark.jobs": sum(l["jobs"] for l in rows),
        "spark.tasks": sum(l["tasks"] for l in rows),
        "driver.gap_s": sum(l["wall_ms"] - l["busy_ms"] for l in rows) / 1e3,
        "spark.job_busy_s": sum(l["busy_ms"] for l in rows) / 1e3,
        "collect.result_mb": sum(l["result_bytes"] for l in rows) * mb,
        "executor.cpu_s": sum(l["cpu_ns"] for l in rows) / 1e9,
        "executor.run_s": sum(l["run_ms"] for l in rows) / 1e3,
        "executor.gc_s": sum(l["gc_ms"] for l in rows) / 1e3,
        "shuffle.read_mb": sum(l["shuffle_read"] for l in rows) * mb,
        "shuffle.write_mb": sum(l["shuffle_write"] for l in rows) * mb,
        "spill.disk_mb": sum(l["spill"] for l in rows) * mb,
        "task.p50_ms": float(durs[len(durs) // 2]) if durs else 0.0,
        "task.max_ms": float(durs[-1]) if durs else 0.0,
    }


def artifacts(store):
    """(artifacts written, their MB): directories holding a _SUCCESS
    mark in the run's store, and the bytes of their files."""
    built, size = 0, 0
    for root, _, files in os.walk(store):
        if "_SUCCESS" in files:
            built += 1
            for sub, _, fs in os.walk(root):
                size += sum(os.path.getsize(os.path.join(sub, f)) for f in fs)
    return built, size / (1 << 20)


def per_layer(workload, res, ctx, recall, dup_recall, store):
    """Every per-layer metric. A metric of a layer the workload does not
    run reads 0."""
    med = warm_times(res)
    setup = {k: median(v) for k, v in op_times(res, "setup", {0}).items()}
    layer_rows, m = spark_layers(res)
    fam = res["families"]
    for f in FAMILIES:
        qs = [q for q in CATALOG_QUERIES if fam.get(q) == f] if workload == "catalog" else []
        m[f"catalog.{f}_s"] = sum(med.get(q, 0.0) for q in qs)
        m[f"catalog.{f}.jobs"] = sum(l["jobs"] for l in layer_rows if l["name"] in qs)
    m["build_s"] = sum(p["wall_s"] for p in passes(res, repeated=False))
    m["warmup_s"] = sum(p["wall_s"] for p in res["passes"] if p["pass"] == 1)
    # a build the timed part runs is timed there; the catalog's are
    # set-up work
    def build(op):
        return med.get(op, setup.get(op, 0.0))
    m["ivf.build_s"] = build("ivf.build")
    m["pq.build_s"] = build("pq.build")
    m["artifacts.built"], m["artifacts.mb"] = artifacts(store)
    pairs = ctx.get("n_query", 0) * ctx.get("n_base", 0)
    for q, short in SEARCH_NAMES.items():
        s = med.get(q, 0.0) if q in SEARCHES.get(workload, []) else 0.0
        m[f"{short}.search_s"] = s
        m[f"qps.{short}"] = ctx["n_query"] / s if s else 0.0
        if short != "brute":
            m[f"recall_at_10.{short}"] = recall.get(q, 0.0)
    m["brute.ns_per_pair"] = m["brute.search_s"] / pairs * 1e9 if pairs else 0.0
    m["pq.ns_per_code"] = m["pq.search_s"] / pairs * 1e9 if pairs else 0.0
    docs = workload == "catalog"
    for q, short in DOCS_OPS.items():
        m[f"docs.{short}_s"] = med.get(q, 0.0) if docs else 0.0
    m["minhash.build_s"] = build("minhash.build")
    pipeline_s = sum(m[f"docs.{short}_s"] for short in DOCS_OPS.values())
    m["text.quality_ns_per_char"] = m["docs.quality_s"] / ctx["chars"] * 1e9 if docs else 0.0
    m["docs_per_s"] = ctx["n_docs"] / pipeline_s if docs else 0.0
    m["dup_recall"] = dup_recall if docs else 0.0
    cand = res["counts"].get("minhash.candidate_pairs", 0)
    ver = res["counts"].get("minhash.verified_pairs", 0)
    m["minhash.candidate_pairs"] = cand
    m["minhash.verified_pairs"] = ver
    m["minhash.verified_per_candidate"] = ver / cand if cand else 0.0
    m["gate.fits_bank"] = res["env"]["gate.fits_bank"]
    # the first pass pays first-call costs, so it is left out here
    later = [p for p in passes(res) if p["pass"] > 1]
    traced = [p["wall_s"] for p in later if p["traced"]]
    plain = [p["wall_s"] for p in later if not p["traced"]]
    m["trace.overhead_frac"] = (median(traced) - median(plain)) / median(plain) if plain and traced else 0.0
    return m


def unit_of(name):
    if name.endswith("per_s") or name.startswith("qps."):
        return "1/s"
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("mb", "MB"), ("_frac", "frac"),
                         ("per_candidate", "frac"), ("dup_recall", "frac")):
        if name.endswith(suffix):
            return unit
    if name.startswith("recall_at_10."):
        return "frac"
    return "ns" if "ns_per" in name else "count"


def git_revision():
    """The checked-out commit, read from .git without running git; None
    outside a git checkout."""
    try:
        with open(".git/HEAD") as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        if os.path.exists(f".git/{ref}"):
            with open(f".git/{ref}") as f:
                return f.read().strip()
        with open(".git/packed-refs") as f:
            return next((l.split()[0] for l in f if l.rstrip().endswith(" " + ref)), None)
    except OSError:
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES["full"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    ap.add_argument("--keep", action="store_true", help="keep the run directory")
    a = ap.parse_args()
    deadline = time.time() + DEADLINE_S
    try:
        digest = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    sz = SIZES[a.size][a.workload]
    size_tag = "-".join(f"{k}{v}" for k, v in sorted(sz.items()))
    run_dir = f"{RUN_ROOT}/{a.workload}-seed{a.seed}-{size_tag}-trace{a.trace}"
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        args, ctx = prepare(a.workload, a.seed, a.size, run_dir)
        res = run_harness(["--workload", a.workload, "--out", f"{run_dir}/out",
                           "--seconds", str(a.seconds), "--min-passes", str(sz["min_passes"]),
                           "--trace", str(a.trace)] + args, run_dir, deadline)
        rows = f"{run_dir}/out/rows"
        fails = list(res["failures"])
        recall, dup_recall = {}, 0.0
        if a.workload == "catalog":
            f, recall, dup_recall = checks.catalog(
                ctx["dir"], rows, CATALOG_QUERIES, res["oracles"], SEARCHES["catalog"],
                ctx["gt"], ctx["ledger"])
            fails += f
            bad = {q for q in CATALOG_QUERIES for x in fails if x.startswith(f"{q}:") or f":{q}:" in x}
            quality = 1.0 - len(bad) / len(CATALOG_QUERIES)
        else:
            f, recall = checks.ann(ctx["dir"], rows, SEARCHES["ann_scale"], ctx["gt"])
            fails += f
            quality = recall.get("ivf_search", 0.0)
        for f in fails:
            print(f"FAILED {f}", file=sys.stderr)
        if a.trace:
            metrics = {k: (v, unit_of(k)) for k, v in
                       per_layer(a.workload, res, ctx, recall, dup_recall,
                                 f"{run_dir}/store").items()}
            os.makedirs(TRACE_OUT, exist_ok=True)
            shutil.copy(f"{run_dir}/out/spans.json",
                        f"{TRACE_OUT}/{a.workload}-seed{a.seed}-spans.json")
        else:
            metrics = end_to_end(a.workload, res, ctx, quality)
        env = dict(res["env"], seed=a.seed, workload=a.workload, size=sz,
                   source_sha256=digest, seconds=a.seconds)
        rev = git_revision()
        if rev:
            env["git_revision"] = rev
        print(json.dumps({"env": env}))
        failed = min(len(fails), res["attempted"])
        print(json.dumps({
            "correct": not fails,
            "attempted": res["attempted"],
            "failed": failed,
            "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    except Exception as e:  # the harness failed to produce a result
        print(f"run failed: {e}", file=sys.stderr)
        return 1
    finally:
        if not a.keep:
            shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
