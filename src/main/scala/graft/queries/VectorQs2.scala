package graft.queries

import graft.functions.Vec
import graft.operators.{Lsh, TopK}
import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Family A continued: SimHash LSH over embeddings, the LC-CMD
  * calibrated distance (Idea-1023.md), and the RoarGraph projection
  * graph (roargraph_python.py:233-294). All ✓oracle. */
object VectorQs2 {

  // ---- SimHash buckets (simple_sim_hash.py:12-18) ----

  /** 16 sign bits against the deterministic plane bank → bucket int. */
  private def bucketCol(v: Column): Column =
    (0 until Lsh.NBits).map { j =>
      val p = typedlit(Lsh.planes(j))
      when(Vec.dotFast(v, p) > 0, lit(1 << j)).otherwise(lit(0))
    }.reduce((a: Column, b: Column) => a + b).cast("int")

  private def sqlDotPlane(v: String, j: Int): String =
    s"list_reduce(list_transform(range(1, ${Lsh.Dim} + 1), i -> $v[i] * (${Lsh.sqlPlane(j)})[i]), (x, y) -> x + y)"

  private def sqlBucket(v: String): String =
    (0 until Lsh.NBits)
      .map(j => s"CASE WHEN ${sqlDotPlane(v, j)} > 0 THEN ${1 << j} ELSE 0 END")
      .mkString("(", " + ", ")")

  val simhashBuckets = Q(
    "simhash_buckets",
    (s, dir) => {
      Tables.t(s, dir, "embeddings")
        .select(col("vec_id"), bucketCol(col("embedding")).as("bucket"))
        .orderBy(col("vec_id"))
    },
    Some(s"""
      SELECT vec_id, ${sqlBucket("v")} AS bucket
      FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
      ORDER BY vec_id
    """))

  /** Radius-1 multiprobe ANN: query probes its bucket plus all 16
    * single-bit flips (simple_sim_hash.py:26-32), candidates rerank by
    * exact cosine, top-10. Scale shape: equi-join on bucket keys —
    * |Q|·17 probe rows against the bucketed base, never N². */
  val simhashAnn = Q(
    "simhash_ann",
    (s, dir) => {
      val emb = Tables.t(s, dir, "embeddings")
      // per-bucket ceiling (reference caps buckets at 20k,
      // simple_sim_hash.py:23): deterministic first-by-id keep so one
      // hot bucket can't blow up the candidate join at scale
      val base = emb.filter(col("vec_id") % 50 =!= 0)
        .select(col("vec_id").as("bid"), col("embedding").as("bv"),
          bucketCol(col("embedding")).as("bucket"))
        .withColumn("brn", row_number().over(
          Window.partitionBy(col("bucket")).orderBy(col("bid"))))
        .filter(col("brn") <= 20000)
        .drop("brn")
      val probes = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          bucketCol(col("embedding")).as("qb"))
        .select(col("qid"), col("qv"), explode(array(
          (col("qb") +: (0 until Lsh.NBits).map(i =>
            col("qb").bitwiseXOR(lit(1 << i)))): _*)).as("bucket"))
      val cand = base.join(broadcast(probes), Seq("bucket"))
      val scoredC = cand.select(col("qid"), col("bid"),
        Vec.cosineFast(col("qv"), col("bv")).as("score"))
      TopK.perGroup(scoredC, "qid", "bid", "score", 10, asc = false)
        .orderBy(col("qid"), col("rnk"))
    },
    Some(s"""
      WITH base0 AS (
        SELECT vec_id AS bid, v AS bv, ${sqlBucket("v")} AS bucket
        FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 50 <> 0)),
      base AS (
        SELECT bid, bv, bucket FROM (
          SELECT bid, bv, bucket,
                 ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY bid) AS brn
          FROM base0) WHERE brn <= 20000),
      qq AS (
        SELECT vec_id AS qid, v AS qv, ${sqlBucket("v")} AS qb
        FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 50 = 0)),
      probes AS (
        SELECT qid, qv, unnest([qb] || list_transform(range(0, ${Lsh.NBits}), i -> xor(qb, 1 << i))) AS bucket
        FROM qq),
      cand AS (
        SELECT p.qid, b.bid, ${Vec.sqlCosine("p.qv", "b.bv")} AS score
        FROM base b JOIN probes p ON b.bucket = p.bucket),
      r AS (SELECT qid, bid, score,
                   CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, bid) AS INT) AS rnk
            FROM cand)
      SELECT qid, rnk, bid, score FROM r WHERE rnk <= 10
      ORDER BY qid, rnk
    """))

  // ---- LC-CMD calibrated top-k (Idea-1023.md §Rerank) ----

  /** Per-label variance arrays (quantized-exact, see modality_stats) —
    * one-pass typed moments, variances assembled by array transform
    * (no explode, no re-collection). */
  private def varArrays(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "embeddings")
      .groupBy(col("label"))
      .agg(graft.operators.Moments.moments(64)(col("embedding")).as("m"))
      .select(col("label"),
        zip_with(col("m.sums"), col("m.sumsqs"), (sq, sqq) =>
          (sqq.cast("double")
            - sq.cast("double") * sq.cast("double") / col("m.n"))
            / col("m.n") / lit(1.0e12)).as("varr"))

  private val sqlVarArrays = s"""
    vx AS (
      SELECT label, u.i AS dim, floor(u.x * 1000000.0 + 0.5) AS xq
      FROM (SELECT label,
                   unnest(list_transform(range(1, len(v)+1), i -> {'i': i - 1, 'x': v[i]})) AS u
            FROM (SELECT label, embedding::DOUBLE[] AS v FROM embeddings))),
    vm AS (
      SELECT label, dim,
             (CAST(SUM(CAST(xq * xq AS DECIMAL(38,0))) AS DOUBLE)
              - CAST(SUM(CAST(xq AS DECIMAL(38,0))) AS DOUBLE)
                * CAST(SUM(CAST(xq AS DECIMAL(38,0))) AS DOUBLE) / COUNT(*)) / COUNT(*) / 1.0e12 AS variance
      FROM vx GROUP BY label, dim),
    varr AS (SELECT label, list(variance ORDER BY dim) AS varr FROM vm GROUP BY label)"""

  /** Locally-calibrated cross-modal distance top-5: per-dimension
    * squared diff scaled by the fused per-label variances
    * (α=0.5, ε=1e-6): D² = Σ (q_k−x_k)²/(0.5σ²_q,k+0.5σ²_x,k+ε). */
  val calibratedTopk = Q(
    "calibrated_topk",
    (s, dir) => {
      val varr = varArrays(s, dir).cache()
      // fused denominators precomputed once per (query-label,
      // base-label) pair — |labels|² tiny rows — so the per-pair hot
      // loop (VecScaledL2) does zero allocation and no variance math
      val lp = varr.select(col("label").as("ql"), col("varr").as("qvar"))
        .crossJoin(varr.select(col("label").as("bl"), col("varr").as("bvar")))
        .select(col("ql"), col("bl"),
          zip_with(col("qvar"), col("bvar"),
            (a, bb) => lit(0.5) * a + lit(0.5) * bb + lit(1.0e-6)).as("den"))
      val emb = Tables.t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("label").as("ql"))
      val b = emb.filter(col("vec_id") % 50 =!= 0)
        .select(col("vec_id").as("bid"), col("embedding").as("bv"), col("label").as("bl"))
      val scoredP = b.crossJoin(broadcast(q))
        .join(broadcast(lp), Seq("ql", "bl"))
        .select(col("qid"), col("bid"),
          Vec.scaledL2Fast(col("qv"), col("bv"), col("den")).as("dist2"))
      TopK.perGroup(scoredP, "qid", "bid", "dist2", 5, asc = true)
        .orderBy(col("qid"), col("rnk"))
    },
    Some(s"""
      WITH $sqlVarArrays,
      q AS (SELECT e.vec_id AS qid, e.embedding::DOUBLE[] AS qv, w.varr AS qvar
            FROM embeddings e JOIN varr w ON e.label = w.label
            WHERE e.vec_id % 50 = 0),
      b AS (SELECT e.vec_id AS bid, e.embedding::DOUBLE[] AS bv, w.varr AS bvar
            FROM embeddings e JOIN varr w ON e.label = w.label
            WHERE e.vec_id % 50 <> 0),
      sc AS (
        SELECT qid, bid,
               list_reduce(list_transform(range(1, ${Lsh.Dim} + 1),
                 i -> ((qv[i] - bv[i]) * (qv[i] - bv[i])) / (0.5 * qvar[i] + 0.5 * bvar[i] + 1.0e-6)),
                 (x, y) -> x + y) AS dist2
        FROM b CROSS JOIN q),
      r AS (SELECT qid, bid, dist2,
                   CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist2 ASC, bid) AS INT) AS rnk
            FROM sc)
      SELECT qid, rnk, bid, dist2 FROM r WHERE rnk <= 5
      ORDER BY qid, rnk
    """))

  // ---- RoarGraph projection graph (roargraph_python.py:233-294) ----

  private val MaxSel = 8 // M_pjbp: max selected neighbors per target
  private[queries] val DegCap = 16 // M_pjbp * 2: reference reverse-edge degree cap

  /** Bipartite query→base top-10 lists projected to base↔base edges
    * with RoarGraph occlusion pruning (roargraph_python.py:177-230):
    * EACH of a query's top-10 targets (not just the rank-1 pivot,
    * py:239-260) gets the query's other members as candidates, sorted
    * by base-base cosine distance to the target; a candidate is
    * dropped when it is closer to an already-selected neighbor than to
    * the target (the RNG diversity rule — the reference's literal code
    * compares against candidates[0] which, being itself selected,
    * degenerates to pivot-only selection under <=; the distance-to-
    * target form is the rule the build intends), capped at M_pjbp=8
    * selected. Forward + reverse edges are deduped by first emission
    * and each source's degree is capped at M_pjbp*2=16 in emission
    * order (reference _add_reverse_edges truncation, applied uniformly
    * as a batch rule). Weight = base-base cosine distance.
    *
    * Scale shape: per query a bounded 10×10 distance matrix + a fold
    * over ≤9 candidates — Q×100 small shuffled rows, never N². */
  val roarProjectionGraph = Q(
    "roar_projection_graph",
    (s, dir) => {
      // localCheckpoint: top10 is read three times below (both sides
      // of the member self-join and the bid lists), and all three read
      // the same stored rows
      // depth pinned at 10 (advice r9): the flattened distance-matrix
      // index below is (r1-1)*10 + r2, which collides for lists deeper
      // than 10 — the SPARK_GRAFT_GT_K env knob must never reach this
      // build (the corrupted graph would persist via ProjIndex)
      val top10 = VectorQs.gtTopk(s, dir, "cosine", 10)
        .select(col("qid"), col("rnk").cast("int").as("rnk"), col("bid"))
        .localCheckpoint()
      val vecs = Tables.t(s, dir, "embeddings")
        .select(col("vec_id").as("bid"), col("embedding").as("v"))
      val mem = top10.join(vecs, Seq("bid")).select(col("qid"), col("rnk"), col("bid"), col("v"))
      // pairwise member-member distances, zero diagonal included so the
      // flattened 1-based index is (r1-1)*10 + r2
      val pr = mem.select(col("qid"), col("rnk").as("r1"), col("v").as("v1"))
        .join(mem.select(col("qid"), col("rnk").as("r2"), col("v").as("v2")), Seq("qid"))
        .select(col("qid"), col("r1"), col("r2"),
          when(col("r1") === col("r2"), lit(0.0))
            .otherwise(lit(1.0) - Vec.cosineFast(col("v1"), col("v2"))).as("d"))
      val dm = pr.groupBy(col("qid")).agg(
        transform(
          array_sort(collect_list(struct(((col("r1") - 1) * 10 + col("r2")).as("k"), col("d")))),
          x => x.getField("d")).as("dmat"),
        max(col("r1")).as("nm"))
      val bm = top10.groupBy(col("qid")).agg(
        transform(array_sort(collect_list(struct(col("rnk"), col("bid")))),
          x => x.getField("bid")).as("bids"))
      // candidates of target tr = other members sorted by (dist, rnk)
      val cnd = pr.filter(col("r1") =!= col("r2"))
        .groupBy(col("qid"), col("r1"))
        .agg(transform(array_sort(collect_list(struct(col("d"), col("r2")))),
          x => x.getField("r2")).as("cands"))
        .select(col("qid"), col("r1").as("tr"), col("cands"))
      // index by the ACTUAL member count nm (the flattened matrix is
      // nm×nm): a corpus with fewer than 10 base vectors per query
      // would silently corrupt lookups under a dense-10 formula
      def dAt(c: Column, r: Column): Column =
        element_at(col("dmat"), ((c - 1) * col("nm") + r).cast("int"))
      val selectedCol = aggregate(
        slice(col("cands"), 2, 9),
        array(element_at(col("cands"), 1)),
        (acc, c) => when(
          size(acc) >= MaxSel ||
            exists(acc, sc => dAt(c, sc) <= dAt(c, col("tr"))),
          acc).otherwise(concat(acc, array(c))))
      val selT = cnd.join(dm, Seq("qid")).join(bm, Seq("qid"))
        .select(col("qid"), col("tr"), col("bids"), col("dmat"), col("nm"), selectedCol.as("sel"))
      val ex = selT.select(col("qid"), col("tr"), col("bids"), col("dmat"), col("nm"),
        posexplode(col("sel")).as(Seq("si0", "c")))
      val wd = ex.select(col("qid"), col("tr"), (col("si0") + 1).as("si"), col("c"),
        element_at(col("bids"), col("tr").cast("int")).as("tbid"),
        element_at(col("bids"), col("c").cast("int")).as("cbid"),
        dAt(col("c"), col("tr")).as("d"))
      val fwd = wd.select(col("tbid").as("src"), col("cbid").as("dst"), col("d"),
        col("qid"), col("tr"), col("si"), lit(0).as("kind"))
      val rev = wd.select(col("cbid").as("src"), col("tbid").as("dst"), col("d"),
        col("qid"), col("tr"), col("si"), lit(1).as("kind"))
      fwd.union(rev)
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("src"), col("dst"))
            .orderBy(col("qid"), col("tr"), col("si"), col("kind"))))
        .filter(col("rn") === 1)
        .withColumn("dr", row_number().over(
          Window.partitionBy(col("src"))
            .orderBy(col("qid"), col("tr"), col("si"), col("kind"))))
        .filter(col("dr") <= DegCap)
        .select(col("src"), col("dst"), col("d").as("w"))
        .orderBy(col("src"), col("w"), col("dst"))
    },
    Some(s"""
      WITH $sqlProjCtes
      SELECT src, dst, d AS w FROM cp WHERE dr <= $DegCap
      ORDER BY src, w, dst
    """))

  /** Shared oracle CTE chain producing `cp` = the capped, deduped
    * projection-graph edge events (roar_projection_graph and
    * roar_entry_point_degree both select from it). */
  private[queries] lazy val sqlProjCtes = s"""
      q AS MATERIALIZED (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id % 50 = 0),
      b AS MATERIALIZED (SELECT vec_id AS bid, embedding::DOUBLE[] AS bv FROM embeddings WHERE vec_id % 50 <> 0),
      sc AS (SELECT qid, bid, ${Vec.sqlCosine("qv", "bv")} AS score FROM b CROSS JOIN q),
      rr AS (SELECT qid, bid, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, bid) AS INT) AS rnk FROM sc),
      top10 AS MATERIALIZED (SELECT qid, bid, rnk FROM rr WHERE rnk <= 10),
      mem AS MATERIALIZED (SELECT t.qid, t.rnk, t.bid, e.bv AS v FROM top10 t JOIN b e ON e.bid = t.bid),
      pr AS (SELECT m1.qid, m1.rnk AS r1, m2.rnk AS r2,
                    CASE WHEN m1.rnk = m2.rnk THEN 0.0
                         ELSE 1.0 - ${Vec.sqlCosine("m1.v", "m2.v")} END AS d
             FROM mem m1 JOIN mem m2 ON m1.qid = m2.qid),
      dm AS MATERIALIZED (SELECT qid, list(d ORDER BY (r1 - 1) * 10 + r2) AS dmat, MAX(r1) AS nm
             FROM pr GROUP BY qid),
      bm AS MATERIALIZED (SELECT qid, list(bid ORDER BY rnk) AS bids FROM top10 GROUP BY qid),
      cnd AS (SELECT qid, r1 AS tr, list(r2 ORDER BY d, r2) AS cands
              FROM pr WHERE r1 <> r2 GROUP BY qid, r1),
      ${/* the selection fold unrolled into 8 chained steps: DuckDB
            1.0.0 miscompiles a lambda nested inside list_reduce
            (nondeterministic results / garbage-value overflow), so
            each step uses only a single-level list_filter lambda */ ""}
      s1 AS (SELECT c.qid, c.tr, bm.bids, dm.dmat, dm.nm, c.cands, [c.cands[1]] AS sel
             FROM cnd c JOIN dm ON dm.qid = c.qid JOIN bm ON bm.qid = c.qid),
      ${(2 to 9).map { k =>
        s"""s$k AS (SELECT qid, tr, bids, dmat, nm, cands,
             CASE WHEN $k > len(cands) OR len(sel) >= $MaxSel OR len(list_filter(sel,
                 s -> dmat[(cands[$k] - 1) * nm + s] <= dmat[(cands[$k] - 1) * nm + tr])) > 0
             THEN sel ELSE list_append(sel, cands[$k]) END AS sel FROM s${k - 1})"""
      }.mkString(",\n      ")},
      selt AS (SELECT qid, tr, bids, dmat, nm, sel FROM s9),
      ex AS (SELECT qid, tr, bids, dmat, nm, u.si, u.c
             FROM (SELECT qid, tr, bids, dmat, nm,
                          unnest(list_transform(range(1, len(sel) + 1),
                                 i -> {'si': i, 'c': sel[i]})) AS u
                   FROM selt)),
      wd AS (SELECT qid, tr, si, c, bids[tr] AS tbid, bids[c] AS cbid,
                    dmat[(c - 1) * nm + tr] AS d
             FROM ex),
      ev AS (SELECT tbid AS src, cbid AS dst, d, qid, tr, si, 0 AS kind FROM wd
             UNION ALL
             SELECT cbid AS src, tbid AS dst, d, qid, tr, si, 1 AS kind FROM wd),
      dd AS (SELECT src, dst, d, qid, tr, si, kind FROM (
               SELECT ev.*, ROW_NUMBER() OVER (PARTITION BY src, dst ORDER BY qid, tr, si, kind) AS rn
               FROM ev) WHERE rn = 1),
      cp AS MATERIALIZED (SELECT src, dst, d,
                    ROW_NUMBER() OVER (PARTITION BY src ORDER BY qid, tr, si, kind) AS dr
             FROM dd)"""

  /** Max-degree projection-graph entry point — the reference's actual
    * calculate_projection_ep (roargraph_python.py:164-175: argmax of
    * per-node degree; SURVEY §1 mis-cited this as nearest-to-centroid,
    * which lives on as the separate roar_entry_point operator).
    * Tie-break: smallest node id. One groupBy over the edge table +
    * top-1 via TakeOrderedAndProject — no unpartitioned Window. */
  val roarEntryPointDegree = Q(
    "roar_entry_point_degree",
    (s, dir) => {
      // round 16 (lessons 11/20): the entry point is a property OF the
      // persisted projection graph — load the ensureGraph artifact
      // (identical rows; the oracle below re-derives the full build
      // chain, so a stale artifact fails the gate) instead of re-running
      // the whole build this bench pass already ran for
      // roar_projection_graph. Same convention as the sweep's edge
      // loads and the reference's calculate_projection_ep, which runs
      // on the saved index.
      graft.operators.ProjIndex.ensureGraph(s, dir) {
          roarProjectionGraph.fn(s, dir)
        }
        .groupBy(col("src")).agg(count(lit(1)).as("degree"))
        .orderBy(col("degree").desc, col("src"))
        .limit(1)
        .select(col("src").as("entry_id"), col("degree"))
    },
    Some(s"""
      WITH $sqlProjCtes,
      proj AS (SELECT src, dst FROM cp WHERE dr <= $DegCap),
      dg AS (SELECT src, COUNT(*) AS degree FROM proj GROUP BY src)
      SELECT src AS entry_id, degree FROM dg
      ORDER BY degree DESC, src LIMIT 1
    """))

  val qs: Seq[Q] = Seq(simhashBuckets, simhashAnn, calibratedTopk,
    roarProjectionGraph, roarEntryPointDegree)
}
