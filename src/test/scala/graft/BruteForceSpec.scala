package graft

import graft.functions.Vec
import graft.operators.{BruteForce, TopK}
import graft.queries.VectorQs
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The imperative kernel must agree BIT-FOR-BIT with the join+udaf
  * formulation (which the DuckDB oracle mirrors) — scores, ids, ranks. */
class BruteForceSpec extends AnyFunSuite with SharedSpark {

  for (metric <- Seq("cosine", "l2", "ip")) {
    test(s"BruteForce.topk == join-based top-k for $metric") {
      val fast = VectorQs.gtTopk(spark, sf, metric).collect()
      val ref = VectorQs.gtTopkJoin(spark, sf, metric).collect()
      assert(fast.length == ref.length && fast.length > 0)
      fast.zip(ref).foreach { case (a, b) => assert(a == b, s"$a != $b") }
    }
  }

  /** One partition holding base id 5 twice (same vector), one query at
    * the origin: the local pools must collapse the repeated (score, id)
    * like the merge does, or the second 5 takes a slot the merge drops
    * and fewer than k rows come back. */
  private def repeatedIds = {
    import spark.implicits._
    val base = Seq((5L, Array(1f, 0f)), (5L, Array(1f, 0f)), (7L, Array(2f, 0f)),
      (9L, Array(3f, 0f))).toDF("bid", "bv").coalesce(1)
    (base, Seq((0L, Array(0f, 0f))).toDF("qid", "qv"))
  }

  test("repeated base ids in one partition: topk == perGroup") {
    val (base, queries) = repeatedIds
    val scored = base.crossJoin(queries)
      .select(col("qid"), col("bid"), Vec.l2Fast(col("qv"), col("bv")).as("score"))
    val ref = TopK.perGroup(scored, "qid", "bid", "score", 2, asc = true)
      .orderBy("qid", "rnk").collect().toSeq
    assert(ref.map(_.getLong(2)) == Seq(5L, 7L))
    assert(BruteForce.topk(base, queries, "l2", 2).orderBy("qid", "rnk").collect().toSeq == ref)
  }

  test("unknown metric names are rejected, not scored as inner product") {
    val (base, queries) = repeatedIds
    // a query side whose collect is a job: the metric is checked first
    val (_, jobs) = jobsOf("brute-unknown-metric")(
      assertThrows[IllegalArgumentException](BruteForce.topk(base, queries.coalesce(1), "dot", 2)))
    assert(jobs == 0, s"rejecting the metric ran $jobs jobs")
  }
}
