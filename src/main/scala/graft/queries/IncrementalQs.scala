package graft.queries

import graft.functions.Vec
import graft.operators.BruteForce
import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Incremental index maintenance (reference hnsw_insert notebooks /
  * add_item, hnsw_cosine_status_high.py:282-331): inserting a batch
  * into an existing kNN graph WITHOUT a full rebuild.
  *
  * Split: vectors with vec_id < splitId form the initial index; the
  * rest arrive as the insert batch. Existing nodes re-rank their
  * current edge list against only the new arrivals (k candidates +
  * |batch| new pairs, never a rebuild); new nodes search the full set.
  * This is exactly the add_item shape: neighbor lists are updated by
  * bounded merge, not recomputed.
  */
object IncrementalQs {

  private val K = 5

  val knnInsert = Q(
    "knn_insert",
    (s, dir) => {
      val emb = Tables.t(s, dir, "embeddings")
      val maxId = emb.agg(max(col("vec_id"))).head().getLong(0)
      val splitId = maxId * 8 / 10
      val initial = emb.filter(col("vec_id") < splitId)
        .select(col("vec_id").as("bid"), col("embedding").as("bv"))
      val batch = emb.filter(col("vec_id") >= splitId)
        .select(col("vec_id").as("bid"), col("embedding").as("bv"))
      val all = emb.select(col("vec_id").as("bid"), col("embedding").as("bv"))

      val asQ: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
        df => df.select(col("bid").as("qid"), col("bv").as("qv"))

      // three independent scans, each run at its call (BruteForce.topk):
      // forked so their query collects and jobs overlap (each fork
      // reads only the stateless table scan, as hnsw_layers' do).
      // existing: kNN among initial nodes only; deltas: existing nodes
      // vs the new batch only; fresh: new nodes search everything
      val Seq(existing, deltas, fresh) = graft.operators.Par.withPool { pp =>
        Seq((initial, initial, true), (batch, initial, false), (all, batch, true)).map {
          case (b, q, self) => pp.fork(BruteForce.topk(b, asQ(q), "l2", K, excludeSelf = self)
            .select(col("qid").as("src"), col("bid").as("dst"), col("score").as("dist")))
        }.map(_())
      }
      // bounded merge: re-rank old list + new candidates, keep k
      val merged = existing.union(deltas)
        .withColumn("rnk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("src")).orderBy(col("dist"), col("dst"))))
        .filter(col("rnk") <= K)
      val ranked = fresh
        .withColumn("rnk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("src")).orderBy(col("dist"), col("dst"))))
      merged.union(ranked)
        .select(col("src"), col("rnk"), col("dst"), col("dist"))
        .orderBy(col("src"), col("rnk"))
    },
    Some {
      val l2 = s"sqrt(${Vec.sqlL2sq("a.v", "b.v")})"
      s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      mx AS (SELECT MAX(vec_id) * 8 // 10 AS splitId FROM e),
      existing AS (
        SELECT a.vec_id AS src, b.vec_id AS dst, $l2 AS dist
        FROM e a, e b, mx
        WHERE a.vec_id < mx.splitId AND b.vec_id < mx.splitId AND a.vec_id <> b.vec_id),
      exist5 AS (
        SELECT src, dst, dist FROM (
          SELECT src, dst, dist, ROW_NUMBER() OVER (PARTITION BY src ORDER BY dist, dst) AS r
          FROM existing) WHERE r <= $K),
      deltas AS (
        SELECT a.vec_id AS src, b.vec_id AS dst, $l2 AS dist
        FROM e a, e b, mx
        WHERE a.vec_id < mx.splitId AND b.vec_id >= mx.splitId),
      delta5 AS (
        SELECT src, dst, dist FROM (
          SELECT src, dst, dist, ROW_NUMBER() OVER (PARTITION BY src ORDER BY dist, dst) AS r
          FROM deltas) WHERE r <= $K),
      merged AS (
        SELECT src, CAST(ROW_NUMBER() OVER (PARTITION BY src ORDER BY dist, dst) AS INT) AS rnk,
               dst, dist
        FROM (SELECT * FROM exist5 UNION ALL SELECT * FROM delta5)),
      fresh AS (
        SELECT src, CAST(ROW_NUMBER() OVER (PARTITION BY src ORDER BY dist, dst) AS INT) AS rnk,
               dst, dist
        FROM (SELECT a.vec_id AS src, b.vec_id AS dst, $l2 AS dist
              FROM e a, e b, mx
              WHERE a.vec_id >= mx.splitId AND a.vec_id <> b.vec_id))
      SELECT src, rnk, dst, dist
      FROM (SELECT * FROM merged WHERE rnk <= $K
            UNION ALL SELECT * FROM fresh WHERE rnk <= $K)
      ORDER BY src, rnk
      """
    })

  val qs: Seq[Q] = Seq(knnInsert)
}
