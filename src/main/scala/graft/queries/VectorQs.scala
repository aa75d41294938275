package graft.queries

import graft.functions.Vec
import graft.operators.{BruteForce, TopK}
import graft.{Q, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Family A (SURVEY §2A): the reference's vector-search surface as
  * batch DataFrame operators over the `embeddings` table.
  *
  * Query/base split: `vec_id % 50 == 0` rows act as the query
  * (out-of-distribution / training-query) set, mirroring the
  * reference's base vs sampled-query files (README_RoarGraph.md:18-23).
  *
  * Scale notes (SURVEY §5): the query side of every similarity join is
  * broadcast; per-query top-k pools are map-side partial aggregates
  * (TopKAgg), so nothing ever shuffles O(B·Q) rows.
  */
object VectorQs {

  /** Groundtruth depth. Default 10 keeps every test-SF hash stable;
    * the reference computes its groundtruth at K=100
    * (README_RoarGraph.md:13-15 `compute_groundtruth --K 100`), so the
    * depth is an env knob rather than a constant. The oracle SQL below
    * embeds the SAME resolved value at catalog build, so the DuckDB
    * cross-check holds at any configured depth (GtDepthSpec pins the
    * K=100 path against the join formulation bit-for-bit). */
  val K: Int = sys.env.get("SPARK_GRAFT_GT_K").map(_.toInt).getOrElse(10)

  // ---- Spark-side shared builders ----

  private def qSide(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "embeddings")
      .filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))

  private def bSide(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "embeddings")
      .filter(col("vec_id") % 50 =!= 0)
      .select(col("vec_id").as("bid"), col("embedding").as("bv"))

  /** Brute-force scored pairs, queries broadcast, float arrays scored
    * in-place by the codegen'd kernels (no per-pair array allocation). */
  private def scored(s: SparkSession, dir: String, metric: String): DataFrame = {
    val sc = metric match {
      case "cosine" => Vec.cosineFast(col("qv"), col("bv"))
      case "l2"     => Vec.l2Fast(col("qv"), col("bv"))
      case "ip"     => Vec.dotFast(col("qv"), col("bv"))
    }
    bSide(s, dir).crossJoin(broadcast(qSide(s, dir)))
      .select(col("qid"), col("bid"), sc.as("score"))
  }

  def gtTopk(s: SparkSession, dir: String, metric: String, k: Int = K): DataFrame =
    BruteForce.topk(bSide(s, dir), qSide(s, dir), metric, k)
      .orderBy(col("qid"), col("rnk"))

  /** Join+aggregate formulation of gtTopk — same results bit-for-bit
    * (spec-enforced); kept as the reference implementation for the
    * BruteForce kernel and for plans where queries can't broadcast. */
  def gtTopkJoin(s: SparkSession, dir: String, metric: String, k: Int = K): DataFrame =
    TopK.perGroup(scored(s, dir, metric), "qid", "bid", "score",
        k, asc = metric == "l2")
      .orderBy(col("qid"), col("rnk"))

  /** Persisted form of knnGraph for the operators DEFINED OVER the
    * graph (knn_refine, graph_stats) — build-once/load-many (lesson
    * 11); their oracles re-derive the brute chain, staleness-guarding
    * the artifact. knn_graph itself (the declared build) always
    * computes live. */
  def knnGraphTable(s: SparkSession, dir: String): DataFrame =
    graft.operators.ProjIndex.ensureTable(s, dir, "knn_graph_k5") {
      knnGraph(s, dir)
    }

  /** Exact kNN self-graph (k=5, L2): reference build_learn_base_knn
    * (roargraph_python.py:155-162) generalized to the base set. */
  def knnGraph(s: SparkSession, dir: String): DataFrame = {
    val all = Tables.t(s, dir, "embeddings")
    BruteForce.topk(
      all.select(col("vec_id").as("bid"), col("embedding").as("bv")),
      all.select(col("vec_id").as("qid"), col("embedding").as("qv")),
      "l2", 5, excludeSelf = true)
      .select(col("qid").as("src"), col("rnk"), col("bid").as("dst"),
        col("score").as("dist"))
      .orderBy(col("src"), col("rnk"))
  }

  // ---- DuckDB oracle shared fragments (identical fold order) ----

  private val SQL_Q =
    "q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id % 50 = 0)"
  private val SQL_B =
    "b AS (SELECT vec_id AS bid, embedding::DOUBLE[] AS bv FROM embeddings WHERE vec_id % 50 <> 0)"

  private def sqlScore(metric: String): String = metric match {
    case "cosine" => Vec.sqlCosine("qv", "bv")
    case "l2"     => s"sqrt(${Vec.sqlL2sq("qv", "bv")})"
    case "ip"     => Vec.sqlDot("qv", "bv")
  }

  private def sqlTopk(metric: String): String = {
    val ord = if (metric == "l2") "ASC" else "DESC"
    s"""
      WITH $SQL_Q, $SQL_B,
      s AS (SELECT qid, bid, ${sqlScore(metric)} AS score FROM b CROSS JOIN q),
      r AS (SELECT qid, bid, score,
                   CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score $ord, bid) AS INT) AS rnk
            FROM s)
      SELECT qid, rnk, bid, score FROM r WHERE rnk <= $K
      ORDER BY qid, rnk
    """
  }

  // ---- the queries ----

  /** Exploded (vec_id, dim, unit) form: the driver's pandas comparer
    * can't hash array cells, so array output is forbidden in oracle'd
    * queries (VERDICT r1 item 2). The unit array is built in a Project
    * before posexplode (Catalyst lesson 2: generator inputs run
    * interpreted per output row otherwise). */
  val vNormalize = Q(
    "v_normalize",
    (s, dir) => {
      // round 15: explode the RAW vector and divide after the Generate.
      // The former unit = transform(v, x/sqrt(n2)) generator input was
      // inlined by ExtractGenerator's implicit `size(unit)>0 AND
      // isnotnull(unit)` filter with n2's fold nested INSIDE the
      // transform lambda — an O(d²) interpreted-HOF evaluation, twice
      // per input row (plans/r15/v_normalize_before.txt, Filter (2)).
      // n2 now comes from the codegen VecDot kernel (spec-enforced
      // bit-identical to the aggregate/zip_with fold) and u = x/sqrt(n2)
      // is scalar codegen per output row — identical doubles out.
      Tables.t(s, dir, "embeddings")
        .select(col("vec_id"), Vec.asD(col("embedding")).as("v"))
        .withColumn("n2", Vec.dotFast(col("v"), col("v")))
        .select(col("vec_id"), col("n2"), posexplode(col("v")).as(Seq("dim", "x")))
        .select(col("vec_id"), sqrt(col("n2")).as("norm"), col("dim"),
          (col("x") / sqrt(col("n2"))).as("u"))
        .orderBy(col("vec_id"), col("dim"))
    },
    Some(s"""
      SELECT vec_id, sqrt(n2) AS norm, CAST(u.i AS INTEGER) AS dim, u.x / sqrt(n2) AS u
      FROM (SELECT vec_id, n2,
                   unnest(list_transform(range(1, len(v)+1),
                                         i -> {'i': i - 1, 'x': v[i]})) AS u
            FROM (SELECT vec_id, v, ${Vec.sqlNorm2("v")} AS n2
                  FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)))
      ORDER BY vec_id, dim
    """))

  val vPairDist = Q(
    "v_pair_dist",
    (s, dir) => {
      val a = Tables.t(s, dir, "embeddings")
        .select(col("vec_id").as("a_id"), col("embedding").as("av"))
      val b = Tables.t(s, dir, "embeddings")
        .select(col("vec_id").as("b_id"), col("embedding").as("bv"))
      a.join(b, col("a_id") + 1 === col("b_id"))
        .select(
          col("a_id"),
          Vec.l2Fast(col("av"), col("bv")).as("l2"),
          Vec.cosineFast(col("av"), col("bv")).as("cosine"),
          Vec.dotFast(col("av"), col("bv")).as("ip"))
        .orderBy(col("a_id"))
    },
    Some(s"""
      WITH a AS (SELECT vec_id AS a_id, embedding::DOUBLE[] AS av FROM embeddings),
           bb AS (SELECT vec_id AS b_id, embedding::DOUBLE[] AS bv FROM embeddings)
      SELECT a_id, sqrt(${Vec.sqlL2sq("av", "bv")}) AS l2,
             ${Vec.sqlCosine("av", "bv")} AS cosine,
             ${Vec.sqlDot("av", "bv")} AS ip
      FROM a JOIN bb ON a_id + 1 = b_id
      ORDER BY a_id
    """))

  val gtCosine = Q("gt_topk_cosine", (s, d) => gtTopk(s, d, "cosine"), Some(sqlTopk("cosine")))
  val gtL2     = Q("gt_topk_l2",     (s, d) => gtTopk(s, d, "l2"),     Some(sqlTopk("l2")))
  val gtIp     = Q("gt_topk_ip",     (s, d) => gtTopk(s, d, "ip"),     Some(sqlTopk("ip")))

  val knnGraphQ = Q(
    "knn_graph",
    (s, d) => knnGraph(s, d),
    Some(s"""
      WITH a AS (SELECT vec_id AS src, embedding::DOUBLE[] AS av FROM embeddings),
           bb AS (SELECT vec_id AS dst, embedding::DOUBLE[] AS bv FROM embeddings),
           s AS (SELECT src, dst, sqrt(${Vec.sqlL2sq("av", "bv")}) AS dist
                 FROM a CROSS JOIN bb WHERE src <> dst),
           r AS (SELECT src, dst, dist,
                        CAST(ROW_NUMBER() OVER (PARTITION BY src ORDER BY dist ASC, dst) AS INT) AS rnk
                 FROM s)
      SELECT src, rnk, dst, dist FROM r WHERE rnk <= 5
      ORDER BY src, rnk
    """))

  /** One NN-Descent refinement round over the kNN graph: each node's
    * candidate set = current neighbors ∪ neighbors-of-neighbors (the
    * NN-Descent observation that a neighbor's neighbor is likely a
    * neighbor), exact-rescored, keep the best 5. At scale one round is
    * two edge-table self-joins + a bounded top-k — no all-pairs
    * rescan — and iterating rounds converges a cheap random/LSH seed
    * graph toward the exact kNN graph. */
  val knnRefine = Q(
    "knn_refine",
    (s, dir) => {
      // round 16 (lessons 11/20 + 59): the refinement round's INPUT is
      // the exact kNN graph — load the persisted build (knnGraphTable;
      // the oracle below re-derives the full brute chain, so a stale
      // artifact fails the gate) instead of re-running the all-pairs
      // scan knn_graph already times as the declared build. The rescore
      // is the NN-Descent round shape — Rescore.keepK (broadcast-bank
      // kernel under the gate, join form verbatim above it; RescoreSpec
      // bit-equality).
      val edges = knnGraphTable(s, dir).select(col("src"), col("dst")).localCheckpoint()
      val twoHop = edges.select(col("src"), col("dst").as("mid"))
        .join(edges.select(col("src").as("mid"), col("dst").as("cand")), Seq("mid"))
        .filter(col("src") =!= col("cand"))
        .select(col("src"), col("cand"))
      val cands = edges.select(col("src"), col("dst").as("cand"))
        .union(twoHop)
        .distinct()
      val vecs = Tables.t(s, dir, "embeddings")
        .select(col("vec_id").as("bid"), col("embedding").as("bv"))
      graft.operators.Rescore.keepK(
          cands.select(col("src"), col("cand").as("dst")), vecs,
          Tables.embCount(s, dir), Tables.embDim(s, dir), 5)
        .select(col("src"), col("rnk"), col("dst"), col("dist"))
        .orderBy(col("src"), col("rnk"))
    },
    Some(s"""
      WITH a AS (SELECT vec_id AS src, embedding::DOUBLE[] AS av FROM embeddings),
      bb AS (SELECT vec_id AS dst, embedding::DOUBLE[] AS bv FROM embeddings),
      sc0 AS (SELECT src, dst, sqrt(${Vec.sqlL2sq("av", "bv")}) AS dist
              FROM a CROSS JOIN bb WHERE src <> dst),
      r0 AS (SELECT src, dst, dist,
                    CAST(ROW_NUMBER() OVER (PARTITION BY src ORDER BY dist ASC, dst) AS INT) AS rnk
             FROM sc0),
      knn AS (SELECT src, dst FROM r0 WHERE rnk <= 5),
      twohop AS (SELECT e1.src, e2.dst AS cand
                 FROM knn e1 JOIN knn e2 ON e1.dst = e2.src
                 WHERE e1.src <> e2.dst),
      cands AS (SELECT DISTINCT src, cand FROM
                  (SELECT src, dst AS cand FROM knn UNION ALL SELECT src, cand FROM twohop)),
      scored AS (SELECT c.src, c.cand AS dst,
                        sqrt(${Vec.sqlL2sq("sa.av", "sb.bv")}) AS dist
                 FROM cands c
                 JOIN a sa ON sa.src = c.src
                 JOIN bb sb ON sb.dst = c.cand),
      rr AS (SELECT src, dst, dist,
                    CAST(ROW_NUMBER() OVER (PARTITION BY src ORDER BY dist ASC, dst) AS INT) AS rnk
             FROM scored)
      SELECT src, rnk, dst, dist FROM rr WHERE rnk <= 5
      ORDER BY src, rnk
    """))

  /** Recall@10 of IP ranking vs cosine ranking — the reference's
    * evaluate_recall (roargraph_python.py:451-461) over two of our own
    * exact rankings (metric-divergence measurement). */
  val recallEval = Q(
    "recall_eval",
    (s, dir) => {
      // recall@10 by definition — depth pinned at 10 on both sides so
      // the /10.0 denominator stays correct under SPARK_GRAFT_GT_K
      val cos = gtTopk(s, dir, "cosine", 10).select(col("qid"), col("bid"))
      val ip = gtTopk(s, dir, "ip", 10).select(col("qid"), col("bid").as("bid2"))
      cos.join(ip, cos("qid") === ip("qid") && col("bid") === col("bid2"), "left")
        .groupBy(cos("qid").as("qid"))
        .agg((count(col("bid2")) / lit(10.0)).as("recall"))
        .orderBy(col("qid"))
    },
    Some(s"""
      WITH $SQL_Q, $SQL_B,
      sc AS (SELECT qid, bid, ${sqlScore("cosine")} AS score FROM b CROSS JOIN q),
      rc AS (SELECT qid, bid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, bid) AS rnk FROM sc),
      tc AS (SELECT qid, bid FROM rc WHERE rnk <= 10),
      si AS (SELECT qid, bid, ${sqlScore("ip")} AS score FROM b CROSS JOIN q),
      ri AS (SELECT qid, bid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, bid) AS rnk FROM si),
      ti AS (SELECT qid, bid FROM ri WHERE rnk <= 10)
      SELECT tc.qid AS qid, COUNT(ti.bid) / 10.0 AS recall
      FROM tc LEFT JOIN ti ON tc.qid = ti.qid AND tc.bid = ti.bid
      GROUP BY tc.qid
      ORDER BY qid
    """))

  /** Per-modality per-dimension mean/variance — the LC-CMD statistics
    * of Idea-1023.md (σ²_{m,k}); `label` is the modality tag.
    *
    * Determinism: raw-double sums are shuffle-order-dependent, and
    * DECIMAL casts of arbitrary doubles hit engine rounding-mode
    * differences, so inputs are quantized to 1e-6 with pure-double ops
    * (`floor(x*1e6 + 0.5)` — bit-identical in both engines), then
    * summed as exact integers. Stats are over the quantized values
    * (error ≤ 5e-7 per element, documented operator semantics). */
  val modalityStats = Q(
    "modality_stats",
    (s, dir) => {
      // one-pass typed moments (Moments.scala): no ×64 row explosion,
      // one shuffle; integer sums equal the oracle's decimal sums exactly
      Tables.t(s, dir, "embeddings")
        .groupBy(col("label"))
        .agg(graft.operators.Moments.moments(64)(col("embedding")).as("m"))
        .select(col("label"), col("m.n").as("n"),
          posexplode(arrays_zip(col("m.sums"), col("m.sumsqs"))).as(Seq("dim", "z")))
        .select(
          col("label"), col("dim"), col("n"),
          (col("z.sums").cast("double") / col("n") / lit(1000000.0)).as("mean"),
          ((col("z.sumsqs").cast("double")
            - col("z.sums").cast("double") * col("z.sums").cast("double") / col("n"))
            / col("n") / lit(1.0e12)).as("variance"))
        .orderBy(col("label"), col("dim"))
    },
    Some("""
      WITH x AS (
        SELECT label, u.i AS dim, floor(u.x * 1000000.0 + 0.5) AS xq
        FROM (SELECT label,
                     unnest(list_transform(range(1, len(v)+1),
                                           i -> {'i': i - 1, 'x': v[i]})) AS u
              FROM (SELECT label, embedding::DOUBLE[] AS v FROM embeddings))),
      m AS (
        SELECT label, dim, COUNT(*) AS n,
               CAST(SUM(CAST(xq AS DECIMAL(38,0))) AS DOUBLE) AS sum_q,
               CAST(SUM(CAST(xq * xq AS DECIMAL(38,0))) AS DOUBLE) AS sumsq_q
        FROM x GROUP BY label, dim)
      SELECT label, CAST(dim AS INTEGER) AS dim, n, sum_q / n / 1000000.0 AS mean,
             (sumsq_q - sum_q * sum_q / n) / n / 1.0e12 AS variance
      FROM m
      ORDER BY label, dim
    """))

  /** In-degree histogram of the kNN graph — reference get_statistics
    * (roargraph_python.py:421-436). */
  val graphStats = Q(
    "graph_stats",
    (s, dir) => {
      // artifact-backed like knn_refine: statistics OF the persisted
      // graph (reference get_statistics runs on the built index); the
      // oracle re-derives the brute chain as the staleness guard
      knnGraphTable(s, dir)
        .groupBy(col("dst")).agg(count(lit(1)).as("indeg"))
        .groupBy(col("indeg")).agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("indeg"))
    },
    Some(s"""
      WITH a AS (SELECT vec_id AS src, embedding::DOUBLE[] AS av FROM embeddings),
           bb AS (SELECT vec_id AS dst, embedding::DOUBLE[] AS bv FROM embeddings),
           s AS (SELECT src, dst, sqrt(${Vec.sqlL2sq("av", "bv")}) AS dist
                 FROM a CROSS JOIN bb WHERE src <> dst),
           r AS (SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src ORDER BY dist ASC, dst) AS rnk
                 FROM s),
           knn AS (SELECT src, dst FROM r WHERE rnk <= 5),
           d AS (SELECT dst, COUNT(*) AS indeg FROM knn GROUP BY dst)
      SELECT indeg, COUNT(*) AS n_nodes FROM d GROUP BY indeg ORDER BY indeg
    """))

  /** Global-centroid entry point — roargraph_python.py:164-175. */
  val roarEntryPoint = Q(
    "roar_entry_point",
    (s, dir) => {
      val dims = Tables.t(s, dir, "embeddings")
        .select(posexplode(Vec.asD(col("embedding"))).as(Seq("dim", "x")))
        .groupBy(col("dim"))
        .agg((sum(floor(col("x") * lit(1000000.0) + lit(0.5)).cast(DecimalType(38, 0)))
          .cast("double") / count(lit(1)) / lit(1000000.0)).as("m"))
      val centroid = dims
        .agg(array_sort(collect_list(struct(col("dim").as("dim"), col("m").as("m")))).as("dm"))
        .select(transform(col("dm"), e => e.getField("m")).as("cv"))
      val base = Tables.t(s, dir, "embeddings")
        .select(col("vec_id").as("bid"), col("embedding").as("bv"))
      // arg-min via min(struct): map-side partial agg, no global-sort
      // single-partition Window (VERDICT r1 item 5 — scale-killer).
      base.crossJoin(broadcast(centroid))
        .select(col("bid"), Vec.l2Fast(col("bv"), col("cv")).as("dist"))
        .agg(min(struct(col("dist"), col("bid"))).as("m"))
        .select(col("m.bid").as("bid"), col("m.dist").as("dist"))
    },
    Some(s"""
      WITH x AS (
        SELECT u.i AS dim, u.x AS x
        FROM (SELECT unnest(list_transform(range(1, len(v)+1),
                                           i -> {'i': i - 1, 'x': v[i]})) AS u
              FROM (SELECT embedding::DOUBLE[] AS v FROM embeddings))),
      dims AS (SELECT dim,
                      CAST(SUM(CAST(floor(x * 1000000.0 + 0.5) AS DECIMAL(38,0))) AS DOUBLE)
                        / COUNT(*) / 1000000.0 AS m
               FROM x GROUP BY dim),
      c AS (SELECT list(m ORDER BY dim) AS cv FROM dims),
      sc AS (SELECT vec_id AS bid, sqrt(${Vec.sqlL2sq("bv", "cv")}) AS dist
             FROM (SELECT vec_id, embedding::DOUBLE[] AS bv FROM embeddings) CROSS JOIN c)
      SELECT bid, dist FROM sc ORDER BY dist, bid LIMIT 1
    """))

  /** Symmetric int8 scalar quantization + reconstruction error — the
    * storage-path compression a 100 TB vector corpus runs before
    * indexing (4× smaller than float32; brute-force kernels can score
    * int8 directly). Pure per-row double math, fully oracle-mirrored. */
  val vQuantize = Q(
    "v_quantize_int8",
    (s, dir) => {
      // array-free output (VERDICT r1 item 3): explode to (vec_id,
      // dim, q) rows. Round 15: explode the RAW vector and quantize
      // per exploded element — the former posexplode(qvec) generator
      // input was re-inlined by ExtractGenerator's implicit size/
      // isnotnull filter with `scale`'s array_max nested inside the
      // transform lambda (the v_normalize O(d²) interpreted trap,
      // plans/r15/v_normalize_before.txt). mean_abs_err keeps the same
      // per-element arithmetic with q_i expanded in place — identical
      // doubles, one O(d) evaluation per input row.
      val v = Vec.asD(col("embedding"))
      def qOf(x: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        floor(x / col("scale") + lit(0.5)).cast("int")
      Tables.t(s, dir, "embeddings")
        .select(col("vec_id"), v.as("v"))
        .withColumn("scale", array_max(transform(col("v"), x => abs(x))) / lit(127.0))
        .withColumn("mean_abs_err",
          Vec.fsum(transform(col("v"),
            x => abs(x - qOf(x) * col("scale")))) / lit(64.0))
        .select(col("vec_id"), col("scale"), col("mean_abs_err"),
          posexplode(col("v")).as(Seq("dim", "x")))
        .select(col("vec_id"), col("scale"), col("dim"), qOf(col("x")).as("q"),
          col("mean_abs_err"))
        .orderBy(col("vec_id"), col("dim"))
    },
    Some(s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      sc AS (SELECT vec_id, v,
                    list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
             FROM e),
      m AS (SELECT vec_id, v, scale,
                   list_reduce(list_transform(range(1, len(v) + 1),
                       i -> abs(v[i] - CAST(floor(v[i] / scale + 0.5) AS INT) * scale)),
                     (x, y) -> x + y) / 64.0 AS mean_abs_err
            FROM sc)
      SELECT vec_id, scale, CAST(u.i AS INTEGER) AS dim,
             CAST(floor(u.x / scale + 0.5) AS INT) AS q, mean_abs_err
      FROM (SELECT vec_id, scale, mean_abs_err,
                   unnest(list_transform(range(1, len(v)+1),
                                         i -> {'i': i - 1, 'x': v[i]})) AS u
            FROM m)
      ORDER BY vec_id, dim
    """))

  val qs: Seq[Q] = Seq(
    vNormalize, vPairDist, gtCosine, gtL2, gtIp, knnGraphQ, knnRefine,
    recallEval, modalityStats, graphStats, roarEntryPoint, vQuantize)
}
