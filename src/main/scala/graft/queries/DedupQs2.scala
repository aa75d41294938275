package graft.queries

import graft.functions.Vec
import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Family B continued: the two corpus-curation dedups a training-data
  * pipeline runs AFTER the signature-based ones —
  *
  *  - fingerprint_overlap: substring-level near-duplication (shared
  *    winnowed char-gram fingerprints — catches quoted/boilerplate
  *    passages that whole-doc MinHash dilutes away), and
  *  - dedup_semantic: SemDeDup-style embedding dedup restricted to
  *    k-means cells (Abbas et al. 2023, arXiv:2303.09540 — pairwise
  *    only WITHIN a cluster, never across the corpus).
  *
  * Scale design: both avoid the N² pair space by partitioning the
  * pair generation on a bounded key — a document-frequency-capped
  * fingerprint (overlap) or a cluster id (semantic). At 100 TB the
  * fingerprint join shuffles |docs|·|fps per doc| small rows and the
  * df ceiling bounds every bucket's fan-out; the semantic join's cost
  * is Σ n_cell², controlled by sizing k ∝ N / targetCellSize exactly
  * as SemDeDup does (50k clusters at LAION scale).
  */
object DedupQs2 {

  // fingerprints appearing in more docs carry no dedup signal
  // (boilerplate/common phrases) AND quadratically blow the pair join
  // — the ceiling is both the semantic filter and the skew guard
  private val FpDfCap = 32
  private val FpContainment = 0.5

  /** Substring-level near-dup pairs: winnowed fingerprint sets
    * (doc_fingerprint's set form), df-capped, equi-joined on the
    * fingerprint; a pair survives when the shared-fingerprint count
    * covers ≥ half of the smaller doc's (surviving) set. Containment,
    * not Jaccard: a short doc fully quoted inside a long one scores
    * 1.0 here but near 0 on Jaccard — that asymmetry is the point. */
  val fingerprintOverlap = Q(
    "fingerprint_overlap",
    (s, dir) => {
      val bc = org.apache.spark.sql.graftbridge.Bridge
      // build the array in a Project, explode the attribute (lesson 2).
      // Round 16: eager localCheckpoint, not cache — the semi-join's
      // broadcast-build thread and the checkpoint job below both raced
      // the unpopulated cache and EACH ran the ~0.7 s winnow kernel
      // (lesson 16's race, measured two equal single-task jobs); the
      // eager boundary runs it exactly once. Spread first: the kernel
      // chain otherwise runs on the single-row-group scan's one task
      // (guide §2.5; Spread gates on scan parallelism).
      val fps = graft.operators.Spread
        .byKeyIfNarrow(Tables.t(s, dir, "documents"), col("doc_id"))
        .select(col("doc_id"),
          bc.column(graft.functions.WinnowFpSet(bc.expr(col("text")))).as("fps"))
        .localCheckpoint()
        .select(col("doc_id"), explode(col("fps")).as("fp"))
      val rare = fps.groupBy(col("fp"))
        .agg(count(lit(1)).as("df"))
        .filter(col("df") <= FpDfCap)
        .select(col("fp"))
      val x = fps.join(rare, Seq("fp"), "left_semi").localCheckpoint()
      val n = x.groupBy(col("doc_id")).agg(count(lit(1)).as("nfp"))
      val shared = x.as("a")
        .join(x.as("b"),
          col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("shared"))
      shared
        .join(n.select(col("doc_id").as("doc_a"), col("nfp").as("na")), Seq("doc_a"))
        .join(n.select(col("doc_id").as("doc_b"), col("nfp").as("nb")), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("shared"),
          (col("shared").cast("double") / least(col("na"), col("nb"))).as("containment"))
        .filter(col("containment") >= FpContainment)
        .orderBy(col("doc_a"), col("doc_b"))
    },
    Some(s"""
      WITH h AS MATERIALIZED (
        SELECT doc_id,
               list_transform(range(1, greatest(length(text) - 7, 0) + 1),
                              i -> md5(substr(text, i, 8))) AS h
        FROM documents),
      w AS MATERIALIZED (SELECT doc_id,
                   list_distinct(list_transform(range(1, greatest(len(h) - 3, 0) + 1),
                                                j -> list_aggregate(h[j:j+3], 'min'))) AS fps
            FROM h),
      x0 AS MATERIALIZED (SELECT doc_id, unnest(fps) AS fp FROM w),
      rare AS (SELECT fp FROM x0 GROUP BY fp HAVING COUNT(*) <= $FpDfCap),
      x AS MATERIALIZED (SELECT doc_id, fp FROM x0 JOIN rare USING (fp)),
      n AS MATERIALIZED (SELECT doc_id, COUNT(*) AS nfp FROM x GROUP BY doc_id),
      p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
            FROM x a JOIN x b ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
      SELECT doc_a, doc_b, shared,
             CAST(shared AS DOUBLE) / least(na.nfp, nb.nfp) AS containment
      FROM p JOIN n na ON na.doc_id = doc_a JOIN n nb ON nb.doc_id = doc_b
      WHERE CAST(shared AS DOUBLE) / least(na.nfp, nb.nfp) >= $FpContainment
      ORDER BY doc_a, doc_b
    """))

  private val SemIters = 3
  private val SemTau = 0.45 // same τ as dedup_embedding — comparable sets

  /** SemDeDup: k-means cells over the embeddings (the deterministic
    * Lloyd build ivf_build proved bit-identical to SqlIvf), then drop
    * any vector with a cosine-≥τ partner of smaller id IN ITS CELL;
    * the emitted witness is the smallest such keeper. One row per
    * dropped vector. */
  val dedupSemantic = Q(
    "dedup_semantic",
    (s, dir) => {
      // cells load from the shared persisted all-corpus quantizer —
      // clustering is this operator's input index, not its work
      val (_, assigned) = CurationQs.allIvf(s, dir)
      val m = assigned
        .select(col("vec_id"), col("cid"), col("embedding"))
        .localCheckpoint()
      m.as("x").join(m.as("y"),
          col("x.cid") === col("y.cid") && col("x.vec_id") < col("y.vec_id"))
        .select(col("x.cid").as("cid"), col("y.vec_id").as("drop_vid"),
          struct(col("x.vec_id").as("keep_vid"),
            Vec.cosineFast(col("x.embedding"), col("y.embedding")).as("cos")).as("w"))
        .filter(col("w.cos") >= SemTau)
        .groupBy(col("cid"), col("drop_vid"))
        .agg(min(col("w")).as("w"))
        .select(col("cid"), col("drop_vid"), col("w.keep_vid").as("keep_vid"),
          col("w.cos").as("cos"))
        .orderBy(col("drop_vid"))
    },
    Some(s"""
      WITH ${SqlIvf.sizedCtes("true", SemIters, "sm")},
      m AS (SELECT a.vec_id, a.cid, e.v FROM smassign a JOIN sme e ON e.vec_id = a.vec_id),
      pr AS (SELECT x.cid, y.vec_id AS drop_vid, x.vec_id AS keep_vid,
                    ${Vec.sqlCosine("x.v", "y.v")} AS cos
             FROM m x JOIN m y ON x.cid = y.cid AND x.vec_id < y.vec_id),
      wit AS (SELECT cid, drop_vid, keep_vid, cos,
                     ROW_NUMBER() OVER (PARTITION BY drop_vid ORDER BY keep_vid) AS rn
              FROM pr WHERE cos >= $SemTau)
      SELECT cid, drop_vid, keep_vid, cos FROM wit WHERE rn = 1
      ORDER BY drop_vid
    """))

  val qs: Seq[Q] = Seq(fingerprintOverlap, dedupSemantic)
}
