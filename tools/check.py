#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate (development only;
NOT part of the library). Reads Verify output (<out>/<name>/ parquet +
oracle_sql.json), runs each oracle in DuckDB over the same sf dir, and
compares: columns sorted by name, rows sorted, exact value equality
(floats compared bitwise; tiny diffs reported with max abs error).

Verify writes no directory for a query that throws, so every
oracle_sql.json key (or, when SPARK_GRAFT_ONLY is set, exactly the
names it lists) must have one: a missing directory is reported as
MISSING and counts as a fail. Exits 1 on any fail, and when nothing
was checked.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>
"""
import sys, os, json, glob, math
import duckdb

TABLES = ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]

def canon(rows, cols):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(norm(r[i]) for i in idx))
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [cols[i] for i in idx], out

def norm(v):
    if isinstance(v, float):
        return v
    if hasattr(v, "as_py"):
        v = v.as_py()
    return v

def eq(a, b):
    if type(a) is float and type(b) is float:
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    return a == b

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    only = os.environ.get("SPARK_GRAFT_ONLY")
    expected = {n.strip() for n in only.split(",")} if only else set(oracle)
    for name in sorted(expected):
        if not os.path.isdir(f"{out_dir}/{name}"):
            print(f"{name:28s} MISSING (no Verify output; see its [verify] error)")
            n_fail += 1
    for name in sorted(os.listdir(out_dir)):
        d = f"{out_dir}/{name}"
        if not os.path.isdir(d):
            continue
        files = glob.glob(f"{d}/*.parquet")
        got = con.sql(f"SELECT * FROM read_parquet({files!r})")
        gcols, grows = got.columns, got.fetchall()
        if name not in oracle:
            status = "rows-only" if len(grows) > 0 else "ROWS-ONLY-EMPTY!"
            print(f"{name:28s} {status} ({len(grows)} rows)")
            if len(grows) == 0: n_fail += 1
            else: n_pass += 1
            continue
        exp = con.sql(oracle[name])
        ecols, erows = exp.columns, exp.fetchall()
        gc, g = canon(grows, gcols)
        ec, e = canon(erows, ecols)
        if gc != ec:
            print(f"{name:28s} SCHEMA MISMATCH spark={gc} duck={ec}")
            n_fail += 1
            continue
        # The driver hashes TYPED values: an oracle HUGEINT vs Spark
        # BIGINT hash-mismatches even when fetchall() erases the
        # difference (r6's pack_contexts red slipped through here).
        # stringify BEFORE sorting: duplicate column names would otherwise
        # make Python compare raw DuckDBPyType objects and raise TypeError
        gtypes = [t for _, t in sorted(zip(gcols, map(str, got.types)))]
        etypes = [t for _, t in sorted(zip(ecols, map(str, exp.types)))]
        if gtypes != etypes:
            print(f"{name:28s} DTYPE MISMATCH spark={list(zip(gc, gtypes))} duck={list(zip(ec, etypes))}")
            n_fail += 1
            continue
        if len(g) != len(e):
            print(f"{name:28s} ROWCOUNT MISMATCH spark={len(g)} duck={len(e)}")
            n_fail += 1
            continue
        bad = maxerr = 0
        first = None
        for rg, re_ in zip(g, e):
            for a, b in zip(rg, re_):
                if not eq(a, b):
                    bad += 1
                    if isinstance(a, float) and isinstance(b, float):
                        maxerr = max(maxerr, abs(a - b))
                    if first is None:
                        first = (rg, re_)
                    break
        if bad == 0:
            print(f"{name:28s} OK ({len(g)} rows)")
            n_pass += 1
        else:
            print(f"{name:28s} {bad}/{len(g)} rows differ, maxfloat-err={maxerr:.3e}")
            print(f"   spark: {first[0]}\n   duck : {first[1]}")
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail or n_pass == 0 else 0)

if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
