package graft

import graft.queries.HnswQs
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The rich-graph member-kNN kernel (round 11) must be bit-identical
  * to the joins form it replaced: same float-widened left-fold
  * distances, same (d, dst) selection order, same undirected min-w
  * dedupe, same erk ranking — the within-list direction dedupe is
  * invisible after min(w). The joins form is the retired
  * self-join → window top-M shape whose 4.6e9-row window sort at
  * 500k training queries × k=96 exceeds the sandbox disk (lesson 30
  * in the build path). */
class RichKernelSpec extends AnyFunSuite with SharedSpark {

  private def edges(df: org.apache.spark.sql.DataFrame) =
    df.orderBy(col("src"), col("erk")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))

  for (metric <- Seq("l2", "ip")) {
    test(s"kernel == joins form, $metric") {
      val emb = Tables.t(spark, sf, "embeddings")
      val base = emb.filter(col("vec_id") % 50 =!= 0)
        .select(col("vec_id").as("bid"), col("embedding").as("bv"))
      val queries = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val kk = HnswQs.richKFor(base.count())
      val kern = edges(HnswQs.richGraphFrom(base, queries, metric, kk))
      val join = edges(HnswQs.richGraphFromJoins(base, queries, metric, kk))
      assert(kern.length == join.length, s"edge counts ${kern.length} vs ${join.length}")
      kern.zip(join).foreach { case (a, b) => assert(a == b, s"edge diverges: $a vs $b") }
      assert(kern.nonEmpty)
    }
  }

  test("kernel is partitioning-invariant") {
    val emb = Tables.t(spark, sf, "embeddings")
    val base = emb.filter(col("vec_id") % 50 =!= 0)
      .select(col("vec_id").as("bid"), col("embedding").as("bv"))
    val queries = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val a = edges(HnswQs.richGraphFrom(base, queries, "l2", 16))
    val b = edges(HnswQs.richGraphFrom(base.repartition(7), queries.repartition(3), "l2", 16))
    assert(a.sameElements(b))
  }
}
