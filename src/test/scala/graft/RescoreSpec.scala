package graft

import graft.operators.Rescore
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The NN-Descent round shape (rescore candidate pairs + keep best-k
  * per src) runs through operators.Rescore: a broadcast-bank kernel
  * below the 64 MiB bank cap, the former join+TopKAgg form above it.
  * Contract (the dedup_embedding scale-branch convention): the two
  * branches are bit-identical — same float-widened left-fold L2, same
  * strict (dist, id) pool order, same exact-duplicate collapse, same
  * inner-join drop of absent endpoints and src==dst pairs — at any
  * candidate partitioning. knn_descent and approxLayers' refinement
  * rounds rely on this equality. */
class RescoreSpec extends AnyFunSuite {

  private lazy val spark = SharedSpark.session

  private def corpus() = {
    import spark.implicits._
    val dim = 8
    // deterministic vectors; ids 0..59, with 50/51 EXACT duplicates of
    // 10/11 so equal distances force the id tie-break
    val rows = (0 until 60).map { i =>
      val base = if (i == 50) 10 else if (i == 51) 11 else i
      (i.toLong, Array.tabulate(dim)(d =>
        (math.sin(base * 31 + d * 7) * 100).toFloat))
    }
    rows.toDF("bid", "bv")
  }

  private def cands() = {
    import spark.implicits._
    // pseudo-random pairs WITH: exact triplicate pairs (pool collapse),
    // src==dst pairs (dropped), and pairs to an ABSENT id 999
    // (inner-join drop)
    val ps = (for (i <- 0 until 60; j <- 0 until 9) yield {
      val dst = (i * 13 + j * 29) % 60
      (i.toLong, dst.toLong)
    }) ++ Seq((3L, 3L), (5L, 999L), (7L, 44L), (7L, 44L), (7L, 44L))
    ps.toDF("src", "dst")
  }

  test("bank kernel == join form, bit-for-bit, any partitioning") {
    val vecs = corpus()
    val k = 5
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("src"), col("rnk").cast("int"), col("dst"), col("dist"))
        .orderBy(col("src"), col("rnk")).collect().map(_.toSeq).toSeq
    // join branch forced: n over the cap, no pre-built bank
    val joinForm = canon(Rescore.keepK(cands(), vecs, n = 1L << 40, dim = 8, k = k))
    // bank branch, several candidate partitionings
    val bank = Rescore.broadcastBank(vecs)
    for (parts <- Seq(1, 3, 7)) {
      val got = canon(Rescore.keepK(
        cands().repartition(parts), vecs, n = 60, dim = 8, k = k, Some(bank)))
      assert(got == joinForm, s"bank branch diverged at $parts partitions")
    }
    // exact-duplicate pairs collapse: no (src, dst) appears twice
    assert(joinForm.map(r => (r.head, r(2))).distinct.size == joinForm.size)
    // absent endpoint dropped, self pair dropped
    assert(!joinForm.exists(r => r(2) == 999L))
    assert(!joinForm.exists(r => r.head == r(2)))
  }

  test("a bank with a repeated id is rejected (the fused kernels pool bank indices)") {
    val vecs = corpus()
    val dup = vecs.unionByName(vecs.filter(col("bid") === 7L))
    assertThrows[IllegalArgumentException](Rescore.broadcastBank(dup))
  }
}
