package graft

import graft.operators.{BeamSearch, ProjIndex}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The batched sweep search (tagged runCounted) must agree
  * BIT-FOR-BIT, per tag, with separate untagged runCounted runs — both
  * the (qid, rnk, bid, dist) results and the visited ledgers. Covers
  * the two shapes the quality sweep batches: same-ef points with
  * different seed sets (entry-count sweep) and different-ef points
  * with the same seed shape (wide sweep, per-query beam width). */
class BeamBatchSpec extends AnyFunSuite with SharedSpark {

  private def fixtures() = {
    val emb = graft.Tables.t(spark, sf, "embeddings")
    val q2 = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val base = emb.filter(col("vec_id") % 50 =!= 0)
      .select(col("vec_id").as("bid"), col("embedding").as("bv"))
    val edges = ProjIndex.ensureGraph(spark, sf) {
      queries.VectorQs2.roarProjectionGraph.fn(spark, sf)
    }.select(col("src"), col("dst")).localCheckpoint()
    val entry = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .orderBy(col("d").desc, col("src")).head().getLong(0)
    (q2, base, edges, entry)
  }

  test("batched multi-seed search == separate runs per tag (results + visited)") {
    val (q2, base, edges, entry) = fixtures()
    val anchors = base.orderBy(col("bid")).limit(7)
      .select(col("bid")).collect().map(_.getLong(0))
    def seedsFor(n: Int) =
      q2.select(col("qid")).withColumn("bid", lit(entry))
        .union(q2.select(col("qid")).crossJoin(
          spark.createDataFrame(spark.sparkContext.parallelize(
            anchors.take(n - 1).map(org.apache.spark.sql.Row(_)).toSeq),
            new org.apache.spark.sql.types.StructType()
              .add("bid", org.apache.spark.sql.types.LongType))))
    val tags = Seq(1, 3)
    // separate runs
    val sep = tags.map { n =>
      val (res, vis) = BeamSearch.runCounted(
        edges, q2, base, seedsFor(n), ef = 5, rounds = 2)
      (n, res.orderBy(col("qid"), col("rnk")).collect(), vis.values.sum)
    }
    // one batched run
    val qT = tags.map(n => q2.select((col("qid") * 16 + n).as("qid"), col("qv")))
      .reduce(_ union _)
    val seedsT = tags.map(n => seedsFor(n)
        .select((col("qid") * 16 + n).as("qid"), col("bid")))
      .reduce(_ union _)
    val (resT, visT) = BeamSearch.runCounted(
      edges, qT, base, seedsT, ef = 5, rounds = 2, tagBase = 16)
    val byTag = resT
      .select(pmod(col("qid"), lit(16)).cast("int").as("tag"),
        expr("qid DIV 16").as("qid"), col("rnk"), col("bid"), col("dist"))
      .collect().groupBy(_.getAs[Int]("tag"))
    sep.foreach { case (n, rows, vis) =>
      assert(visT(n) == vis, s"visited mismatch for tag $n: ${visT(n)} != $vis")
      val got = byTag(n).map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rnk"),
        r.getAs[Long]("bid"), r.getAs[Double]("dist")))
        .sortBy(t => (t._1, t._2))
      val want = rows.map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rnk"),
        r.getAs[Long]("bid"), r.getAs[Double]("dist"))).toSeq
      assert(got.toSeq == want, s"results differ for tag $n")
    }
  }

  test("per-query ef (rank-filtered maxEf pool) == separate runs at each ef") {
    val (q2, base, edges, entry) = fixtures()
    val seeds = q2.select(col("qid")).withColumn("bid", lit(entry))
    val efs = Seq(4, 8)
    val sep = efs.map { e =>
      val (res, vis) = BeamSearch.runCounted(
        edges, q2, base, seeds, ef = e, rounds = 3)
      (e, res.orderBy(col("qid"), col("rnk")).collect(), vis.values.sum)
    }
    val qT = efs.map(e => q2.select((col("qid") * 16 + e).as("qid"), col("qv")))
      .reduce(_ union _)
    val seedsT = efs.map(e => seeds.select((col("qid") * 16 + e).as("qid"), col("bid")))
      .reduce(_ union _)
    val (resT, visT) = BeamSearch.runCounted(
      edges, qT, base, seedsT, ef = 8, rounds = 3,
      tagBase = 16, efRule = Some(BeamSearch.TagEf(16)))
    val byTag = resT
      .select(pmod(col("qid"), lit(16)).cast("int").as("tag"),
        expr("qid DIV 16").as("qid"), col("rnk"), col("bid"), col("dist"))
      .collect().groupBy(_.getAs[Int]("tag"))
    sep.foreach { case (e, rows, vis) =>
      assert(visT(e) == vis, s"visited mismatch for ef $e: ${visT(e)} != $vis")
      val got = byTag(e).map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rnk"),
        r.getAs[Long]("bid"), r.getAs[Double]("dist")))
        .sortBy(t => (t._1, t._2))
      val want = rows.map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rnk"),
        r.getAs[Long]("bid"), r.getAs[Double]("dist"))).toSeq
      assert(got.toSeq == want, s"results differ for ef $e")
    }
  }
}
