#!/usr/bin/env python3
"""Cross-engine replay of the entry-resolution rule (lesson 42, wired
into the catalog in round 11) — development tool, NOT part of the
library.

The Spark side persists the quantization-error ladder as the
`entry_ladder` artifact and derives the routed search's entry-quantizer
depth from it (HnswQs3.resolvedEntryCells). The DuckDB oracle
re-derives the same rule inside graph_routed_search's SQL
(SqlIvf.entryCtes: eqlv = the valid ladder rows, eqaq = the resolved
depth). This tool compares the two BITWISE per corpus:

  1. loads the persisted ladder artifact + the aq-tagged anchor dir
     for each verified corpus,
  2. re-runs the oracle's ladder CTEs standalone in DuckDB (the WITH
     prefix of the dumped graph_routed_search SQL with the final
     SELECT swapped for the ladder/resolve CTEs),
  3. asserts every (cells, mean_d2) row and the resolved depth match
     exactly (mean_d2 compared as IEEE doubles, bit-for-bit semantics).

Covers the DEEPEN branch out of the box: the driver's synthetic
testdata is clustered, so sf0.001/sf0.01 resolve 256 of base 16. The
HOLD-AT-BASE branch runs when EntryBranchSpec has exported its
isotropic corpus (sbt test first), same convention as
check_scale_branch.py.

Usage: python3 tools/check_entry_ladder.py <verifyOutDir>
       (verifyOutDir must contain oracle_sql.json from graft.Verify)
"""
import sys, os, re, json, glob, math, struct
import duckdb

# ProjIndex's store root (same env var, same default) and its Version
INDEX_ROOT = os.path.join(
    os.environ.get("SPARK_GRAFT_INDEX_DIR", "/tmp/graft_index"), "v4")
BRANCH_DIR = "/tmp/graft_entry_branch"


def ladder_sql(oracle_sql, final):
    """The WITH prefix of the routed oracle with `final` as the query.

    Anchored at the LAST 'SELECT qid, rnk' (the oracle's terminal
    SELECT — several beam CTEs contain 'SELECT qid, rnk, ...' too, so
    a first-occurrence cut would truncate the WITH block mid-CTE; r11
    ADVICE 3), and sanity-checked: the retained prefix must end with
    a closed CTE followed by nothing but whitespace."""
    cut = oracle_sql.rindex("SELECT qid, rnk")
    prefix = oracle_sql[:cut]
    assert prefix.rstrip().endswith(")"), (
        "oracle cut no longer lands after the final CTE — "
        "update ladder_sql's anchor")
    return prefix + final


def resolve_rule(ladder, dim):
    """Python replay of Ivf.entryCellsFor + entryStructureRatioFor:
    threshold = min(0.85, floor((2^(-2/d) - 0.03) * 1e4) / 1e4)
    (bit-identical across JVM/libm/DuckDB for every d <= 4096 —
    measured r12), resolve = deepest doubling under it, else base."""
    thr = min(0.85, math.floor((math.pow(2.0, -2.0 / dim) - 0.03)
                               * 10000.0) / 10000.0)
    res = ladder[0][0]
    for (pc, pm), (cc, cm) in zip(ladder, ladder[1:]):
        if cm < pm * thr:
            res = cc
    return res


def artifact_dir(corpus_dir):
    # ProjIndex.tablePath keys artifact dirs by the corpus path with
    # every char outside [A-Za-z0-9.] -> "_"
    # (e.g. /root/testdata/sf0.01 -> _root_testdata_sf0.01)
    return os.path.join(INDEX_ROOT, re.sub(r"[^A-Za-z0-9.]", "_", corpus_dir))


def check_corpus(name, corpus_dir, sql):
    adir = artifact_dir(corpus_dir)
    lad_glob = os.path.join(adir, "entry_ladder", "*.parquet")
    if not glob.glob(lad_glob):
        print(f"{name:<12} SKIP (no entry_ladder artifact under {adir})")
        return True
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM read_parquet("
        f"'{corpus_dir}/embeddings.parquet')")
    spark_lad = con.execute(
        f"SELECT cells, mean_d2 FROM read_parquet('{lad_glob}') ORDER BY cells"
    ).fetchall()
    duck_lad = con.execute(
        ladder_sql(sql, "SELECT cells, md FROM eqlv ORDER BY cells")
    ).fetchall()
    duck_aq = con.execute(
        ladder_sql(sql, "SELECT aq FROM eqaq")).fetchone()[0]
    # expected depth = the rule applied to the PERSISTED ladder (r11
    # ADVICE 2: a max() over anchor-dir tags picks up stale artifacts
    # from runs at a different resolved depth); the current anchor
    # artifact must carry exactly that tag when any anchor dir exists
    dim = con.execute("SELECT len(embedding) FROM embeddings LIMIT 1"
                      ).fetchone()[0]
    spark_aq = resolve_rule(spark_lad, dim)
    anchor_tags = sorted(
        int(os.path.basename(a).split("aq")[1])
        for a in glob.glob(os.path.join(adir, "routed_anchor_nodes_aq*"))
        if os.path.basename(a).split("aq")[1].isdigit())
    ok = True
    if anchor_tags and spark_aq not in anchor_tags:
        print(f"{name:<12} FAIL no anchor artifact at the rule's depth "
              f"{spark_aq} (dirs: {anchor_tags})")
        ok = False
    if len(spark_lad) != len(duck_lad):
        print(f"{name:<12} FAIL ladder length spark={len(spark_lad)} "
              f"duckdb={len(duck_lad)}")
        ok = False
    else:
        for (sc, sd), (dc, dd) in zip(spark_lad, duck_lad):
            if sc != dc or struct.pack("<d", sd) != struct.pack("<d", dd):
                print(f"{name:<12} FAIL row spark=({sc},{sd!r}) "
                      f"duckdb=({dc},{dd!r})")
                ok = False
    if spark_aq != duck_aq:
        print(f"{name:<12} FAIL resolved spark={spark_aq} duckdb={duck_aq}")
        ok = False
    if ok:
        tag = f"resolved={duck_aq}" + (
            f" (anchor artifact aq{spark_aq})" if anchor_tags else "")
        print(f"{name:<12} OK ({len(spark_lad)} ladder rows bitwise, {tag})")
    return ok


def main(out_dir):
    sql = json.load(open(os.path.join(out_dir, "oracle_sql.json")))[
        "graph_routed_search"]
    ok = True
    for sf in ("sf0.001", "sf0.01"):
        ok &= check_corpus(sf, f"/root/testdata/{sf}", sql)
    # hold-at-base branch: EntryBranchSpec exports an isotropic corpus
    # (embeddings.parquet + the Spark ladder + resolved depth)
    exp = os.path.join(BRANCH_DIR, "embeddings.parquet")
    if os.path.isdir(BRANCH_DIR) and (os.path.exists(exp) or
                                      os.path.isdir(exp)):
        con = duckdb.connect()
        con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                    f"read_parquet('{exp}/*.parquet')"
                    if os.path.isdir(exp) else
                    "CREATE VIEW embeddings AS SELECT * FROM "
                    f"read_parquet('{exp}')")
        spark_side = json.load(open(os.path.join(BRANCH_DIR, "ladder.json")))
        duck_lad = con.execute(
            ladder_sql(sql, "SELECT cells, md FROM eqlv ORDER BY cells")
        ).fetchall()
        duck_aq = con.execute(ladder_sql(sql, "SELECT aq FROM eqaq")
                              ).fetchone()[0]
        good = (duck_aq == spark_side["resolved"] and
                len(duck_lad) == len(spark_side["ladder"]) and
                all(dc == sc and
                    struct.pack("<d", dd) == struct.pack("<d", sd)
                    for (dc, dd), (sc, sd)
                    in zip(duck_lad, spark_side["ladder"])))
        if good:
            print(f"{'isotropic':<12} OK ({len(duck_lad)} ladder rows "
                  f"bitwise, resolved={duck_aq} = base — hold branch)")
        else:
            print(f"{'isotropic':<12} FAIL spark={spark_side} "
                  f"duckdb=({duck_lad}, {duck_aq})")
            ok = False
    else:
        print(f"{'isotropic':<12} SKIP (run `sbt test` to export "
              f"{BRANCH_DIR} via EntryBranchSpec)")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    if len(sys.argv) != 2:
        print(__doc__)
        sys.exit(2)
    main(sys.argv[1])
