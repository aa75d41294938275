package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-8 invariants: the last two exact-N²-per-level artifact builds
  * (HnswQs3.baseLayers, HnswQs2.initialLayers) now derive from the N·k
  * approximate layered substrate (r7 item 2). The exact builds remain
  * only as oracle-companions (hnsw_layers, and the inline forms here),
  * so the recall floors that used to be hash-exactness live in this
  * spec — the same criterion Round6Spec applies to hnsw_layers_approx. */
class Round8Spec extends AnyFunSuite with SharedSpark {

  /** exact per-level kNN over a node subset — the oracle-companion
    * form the approx artifacts replaced (spec-only; never reachable
    * from a catalog artifact build). */
  private def exactLayers(filter: org.apache.spark.sql.Column) = {
    val emb = Tables.t(spark, sf, "embeddings")
      .filter(filter)
      .select(col("vec_id"), col("embedding"),
        queries.HnswQs.levelCol(col("vec_id")).as("lvl"))
    (0 to queries.HnswQs.MaxLevel).map { l =>
      val nodes = emb.filter(col("lvl") >= l)
        .select(col("vec_id").as("bid"), col("embedding").as("bv"))
      graft.operators.BruteForce.topk(nodes,
          nodes.select(col("bid").as("qid"), col("bv").as("qv")),
          "l2", queries.HnswQs.LevelK, excludeSelf = true)
        .select(lit(l).as("level"), col("qid").as("src"), col("bid").as("dst"))
    }.reduce(_.union(_))
  }

  private def perLevelRecall(
      approx: org.apache.spark.sql.DataFrame,
      exact: org.apache.spark.sql.DataFrame): Array[(Int, Double)] =
    exact.groupBy(col("level")).agg(count(lit(1)).as("n_exact"))
      .join(exact.join(approx, Seq("level", "src", "dst"))
        .groupBy(col("level")).agg(count(lit(1)).as("n_hit")), Seq("level"))
      .select(col("level"), (col("n_hit") / col("n_exact")).as("recall"))
      .collect().map(r => (r.getInt(0), r.getDouble(1)))

  test("baseLayers (approx, base-only) recovers >= 0.8 of the exact build per level") {
    val approx = queries.HnswQs3.baseLayers(spark, sf)
      .select(col("level"), col("src"), col("dst")).localCheckpoint()
    val exact = exactLayers(col("vec_id") % 50 =!= 0)
      .select(col("level"), col("src"), col("dst")).localCheckpoint()
    perLevelRecall(approx, exact).foreach { case (l, recall) =>
      info(f"base level $l edge recall $recall%.3f vs exact")
      assert(recall >= 0.8, s"base level $l edge recall $recall < 0.8")
    }
  }

  test("graph_routed_search_ip recall@10 >= 0.9 vs exact IP groundtruth") {
    val res = queries.HnswQs3.graphRoutedSearchIp.fn(spark, sf)
      .select(col("qid"), col("bid"))
    val gt = queries.VectorQs.gtTopk(spark, sf, "ip")
      .select(col("qid"), col("bid")).localCheckpoint()
    val recall = res.join(gt, Seq("qid", "bid")).count().toDouble / gt.count()
    info(f"routed IP recall@10 $recall%.3f vs exact")
    assert(recall >= 0.9, s"routed IP recall $recall < 0.9")
  }

  test("initialLayers (approx, pre-split) recovers >= 0.8 of the exact build per level") {
    val maxId = Tables.t(spark, sf, "embeddings")
      .agg(max(col("vec_id"))).head().getLong(0)
    val splitId = maxId * 8 / 10
    val approx = queries.HnswQs2.initialLayers(spark, sf)
      .select(col("level"), col("src"), col("dst")).localCheckpoint()
    val exact = exactLayers(col("vec_id") < splitId)
      .select(col("level"), col("src"), col("dst")).localCheckpoint()
    perLevelRecall(approx, exact).foreach { case (l, recall) =>
      info(f"initial level $l edge recall $recall%.3f vs exact")
      assert(recall >= 0.8, s"initial level $l edge recall $recall < 0.8")
    }
  }
}
