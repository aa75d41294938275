package graft

import graft.operators.{BeamSearch, BruteForce}
import graft.queries.{HnswQs, VectorQs}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bridge edges exist to connect distribution clusters a purely local
  * kNN graph keeps apart (hnsw_with_bridges_optimized.py): beam search
  * over the base-side kNN graph from one entry hub must recall MORE of
  * the exact top-10 when the cross-distribution bridges are unioned in.
  * The embeddings corpus is modality-clustered by construction, so the
  * no-bridge graph strands queries in the entry's cluster. */
class BridgeEdgesSpec extends AnyFunSuite with SharedSpark {

  test("bridges improve beam recall over the local kNN graph") {
    val emb = Tables.t(spark, sf, "embeddings")
    val base = emb.filter(col("vec_id") % 50 =!= 0)
      .select(col("vec_id").as("bid"), col("embedding").as("bv"))
    val queries = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val knn = BruteForce.topk(
      base, base.select(col("bid").as("qid"), col("bv").as("qv")),
      "l2", 4, excludeSelf = true)
      .select(col("qid").as("src"), col("bid").as("dst"))
      .localCheckpoint()
    val bridges = HnswQs.bridgeEdges.fn(spark, sf)
      .select(col("src"), col("dst")).localCheckpoint()
    assert(bridges.count() > 0)
    val gt = VectorQs.gtTopk(spark, sf, "l2").select(col("qid"), col("bid"))
      .localCheckpoint()

    def recall(edges: org.apache.spark.sql.DataFrame): Double = {
      val e = edges.cache()
      val entry = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
        .orderBy(col("d").desc, col("src")).head().getLong(0)
      val res = BeamSearch.runFromSeeds(e, queries, base,
        queries.select(col("qid")).withColumn("bid", lit(entry)), ef = 10, rounds = 3)
      res.select(col("qid"), col("bid")).join(gt, Seq("qid", "bid")).count()
        .toDouble / gt.count()
    }

    val plain = recall(knn)
    val bridged = recall(knn.union(bridges).distinct())
    info(s"beam recall: knn-only=$plain knn+bridges=$bridged")
    assert(bridged > plain, s"bridges did not improve recall: $bridged <= $plain")
  }
}
