"""Correctness checks of one benchmark run. Each returns a list of
failure messages (empty when the answer is right) and, where the
workload has one, a quality figure. Rows come from the harness's
rows/<operation> parquet; expected answers are computed here, from the
generated inputs, by code that shares nothing with the engine."""

import glob
import hashlib
import json
import math
import os
import re

import duckdb

# Oracles that take DuckDB minutes at the benchmark's scale (recursive
# reachability); their queries are checked against the planted
# duplicates instead.
SLOW_ORACLES = {"dedup_minhash_groups"}

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return repr(v)


def digest(cols, types, rows):
    """Order-independent digest of a result: columns sorted by name,
    each typed value in exact form, row hashes sorted."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    head = "|".join(f"{cols[i]}:{types[i]}" for i in idx)
    hs = sorted(hashlib.sha256("\x1f".join(_canon(r[i]) for i in idx).encode()).hexdigest()
                for r in rows)
    return hashlib.sha256((head + "\n" + "\n".join(hs)).encode()).hexdigest(), len(rows)


def _con(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{data_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def rows_of(con, rows_dir, name):
    """(columns, types, rows) the engine returned for `name`, or None
    when the operation kept no rows (it failed, or returned none)."""
    files = glob.glob(f"{rows_dir}/{name}/*.parquet")
    if not files:
        return None
    r = con.sql(f"SELECT * FROM read_parquet({files!r})")
    return r.columns, [str(t) for t in r.types], r.fetchall()


def catalog(data_dir, rows_dir, names, oracles, searches, gt, ledger):
    """Each oracled query's digest must equal its DuckDB oracle's over
    the same tables, each rows-only query must return rows, and the
    dedup queries must find the planted duplicates (`documents`).
    Returns the failures, the recall@10 of the approximate searches and
    the planted near-duplicate recall."""
    con = _con(data_dir)
    fails = []
    for q in names:
        got = rows_of(con, rows_dir, q)
        if got is None or not got[2]:
            fails.append(f"{q}: no rows")
            continue
        if q not in oracles or q in SLOW_ORACLES:
            continue
        exp = con.sql(oracles[q])
        want = digest(exp.columns, [str(t) for t in exp.types], exp.fetchall())
        have = digest(*got)
        if have != want:
            fails.append(f"{q}: digest {have[0][:12]}/{have[1]} rows != oracle {want[0][:12]}/{want[1]} rows")
    rec = {}
    for q in searches:
        f, rec[q] = recall(con, rows_dir, q, gt)
        fails += f
    f, dup_recall = documents(con, rows_dir, ledger)
    return fails + f, rec, dup_recall


def recall(con, rows_dir, name, gt, k=10):
    """(failures, recall@k) of one search's rows against the exact
    groundtruth; every query must get k distinct ids."""
    got = rows_of(con, rows_dir, name)
    if got is None:
        return [f"{name}: no rows"], 0.0
    cols, _, rows = got
    qi, bi = cols.index("qid"), cols.index("bid")
    res = {}
    for r in rows:
        res.setdefault(r[qi], []).append(r[bi])
    if set(res) != set(gt):
        return [f"{name}: answered {len(res)} of {len(gt)} queries"], 0.0
    fails = []
    bad = [q for q, ids in res.items() if len(ids) != k or len(set(ids)) != k]
    if bad:
        fails.append(f"{name}: {len(bad)} queries without {k} distinct results")
    hit = sum(len(set(res[q]) & set(ids)) for q, ids in gt.items())
    return fails, hit / (k * len(gt))


def ann(data_dir, rows_dir, searches, gt):
    """Recall@10 of every search; the first, brute force, must be exact."""
    con = _con(data_dir)
    fails, rec = [], {}
    for name in searches:
        f, rec[name] = recall(con, rows_dir, name, gt)
        fails += f
    if rec[searches[0]] != 1.0:
        fails.append(f"{searches[0]}: recall {rec[searches[0]]} != 1.0")
    return fails, rec


def _norm_md5(text):
    return hashlib.md5(re.sub(r"\s+", " ", text.lower()).encode()).hexdigest()


def documents(con, rows_dir, ledger):
    """dedup_exact must equal the groups computed here from the text;
    dedup_minhash_groups must put every planted exact copy in its
    source's group (so dedup_apply drops it). Returns the failures and
    the share of planted near-duplicate pairs found in one group."""
    fails = []
    groups = {}
    for d, t in con.sql("SELECT doc_id, text FROM documents").fetchall():
        groups.setdefault(_norm_md5(t), []).append(d)
    want = {m: (len(ids), min(ids)) for m, ids in groups.items()}
    got = rows_of(con, rows_dir, "dedup_exact")
    if got is not None:
        cols, _, rows = got
        have = {r[cols.index("norm_md5")]: (r[cols.index("n_dups")], r[cols.index("keep_id")])
                for r in rows}
        if have != want:
            fails.append("dedup_exact: groups differ from the exact duplicates in the text")
    got = rows_of(con, rows_dir, "dedup_minhash_groups")
    if got is None:
        return fails, 0.0
    cols, _, rows = got
    surv = {r[cols.index("member")]: r[cols.index("survivor_id")] for r in rows}

    def together(a, b):
        return a in surv and surv.get(a) == surv.get(b)

    missed = [p for p in ledger["exact"] if not together(*p)]
    if missed:
        fails.append(f"dedup_minhash_groups: {len(missed)} planted exact copies not grouped")
    found = sum(1 for p in ledger["near"] if together(*p))
    return fails, found / max(1, len(ledger["near"]))


def load_result(out_dir):
    with open(f"{out_dir}/result.json") as f:
        return json.load(f)
