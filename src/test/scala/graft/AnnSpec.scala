package graft

import graft.queries.{VectorQs, VectorQs3}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Recall invariants for the approximate paths (rows-only operators):
  * IVF and beam search must substantially agree with the exact L2
  * groundtruth; SimHash ANN must return genuine-bucket candidates. */
class AnnSpec extends AnyFunSuite with SharedSpark {

  private def recallVsExact(approx: org.apache.spark.sql.DataFrame): Double = {
    val gt = VectorQs.gtTopk(spark, sf, "l2").select(col("qid"), col("bid"))
    val hits = approx.select(col("qid"), col("bid"))
      .join(gt, Seq("qid", "bid")).count()
    val total = gt.count()
    hits.toDouble / total
  }

  test("ivf_search recall@10 vs exact L2 >= 0.5") {
    val r = recallVsExact(VectorQs3.ivfSearch.fn(spark, sf))
    assert(r >= 0.5, s"ivf recall $r")
  }

  test("ivf_build partitions all vectors") {
    val rows = VectorQs3.ivfBuild.fn(spark, sf).collect()
    val total = rows.map(_.getAs[Long]("n_vecs")).sum
    assert(total == Tables.t(spark, sf, "embeddings").count())
  }

  test("beam search results are real graph-reachable neighbors with finite dists") {
    val out = VectorQs3.graphBeamSearch.fn(spark, sf)
    assert(out.count() > 0)
    assert(out.filter(col("dist") < 0 || col("dist").isNull).count() == 0)
  }

  test("occlusion-pruned projection graph beam recall >= pivot-only graph") {
    import graft.operators.BeamSearch
    val emb = Tables.t(spark, sf, "embeddings")
    val base = emb.filter(col("vec_id") % 50 =!= 0)
      .select(col("vec_id").as("bid"), col("embedding").as("bv"))
    val queries = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val gt = VectorQs.gtTopk(spark, sf, "cosine").select(col("qid"), col("bid"))
      .localCheckpoint()

    def beamRecall(edges: org.apache.spark.sql.DataFrame): Double = {
      val e = edges.select(col("src"), col("dst")).cache()
      // max-degree entry for BOTH graphs (reference
      // calculate_projection_ep) so the comparison isolates the build
      val entry = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
        .orderBy(col("d").desc, col("src")).head().getLong(0)
      val res = BeamSearch.runFromSeeds(e, queries, base,
        queries.select(col("qid")).withColumn("bid", lit(entry)), ef = 10, rounds = 3)
      val hits = res.select(col("qid"), col("bid")).join(gt, Seq("qid", "bid")).count()
      hits.toDouble / gt.count()
    }

    // round-1 pivot-only build (each query's rank-1 base connects to the
    // query's other members, rank weight, reverse edges, degree<=8)
    val top10 = VectorQs.gtTopk(spark, sf, "cosine").localCheckpoint()
    val pivot = top10.filter(col("rnk") === 1).select(col("qid"), col("bid").as("pivot"))
    val rest = top10.filter(col("rnk") >= 2).select(col("qid"), col("bid"), col("rnk"))
    val joined = rest.join(pivot, Seq("qid"))
    val oldEdges = joined.select(col("pivot").as("src"), col("bid").as("dst"), col("rnk").as("w"))
      .union(joined.select(col("bid").as("src"), col("pivot").as("dst"), col("rnk").as("w")))
      .groupBy(col("src"), col("dst")).agg(min(col("w")).as("w"))
      .withColumn("r", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("src"))
          .orderBy(col("w"), col("dst"))))
      .filter(col("r") <= 8)

    val newRecall = beamRecall(graft.queries.VectorQs2.roarProjectionGraph.fn(spark, sf))
    val oldRecall = beamRecall(oldEdges)
    info(s"beam recall: occlusion-pruned=$newRecall pivot-only=$oldRecall")
    assert(newRecall >= oldRecall,
      s"occlusion-pruned graph recall $newRecall < pivot-only $oldRecall")
  }
}
