package graft

import graft.operators.{Scored, TopK, TopKAgg}
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

class TopKSpec extends AnyFunSuite with SharedSpark {

  /** Reference implementation: full sort then take k. NaN ranks last
    * in both directions. */
  private def bySort(xs: Seq[Scored], k: Int, asc: Boolean): Seq[Scored] =
    xs.sortBy { s =>
      val nan = s.score.isNaN
      (nan, if (nan) 0.0 else if (asc) s.score else -s.score, s.id)
    }.take(k)

  /** Case-class equality is false on NaN == NaN; compare the bits. */
  private def bits(xs: Seq[Scored]): Seq[(Long, Long)] =
    xs.map(s => (java.lang.Double.doubleToLongBits(s.score), s.id))

  test("TopKAgg matches sort-based top-k under any merge split (ties included)") {
    val rnd = new Random(7)
    for (trial <- 1 to 50) {
      val n = 1 + rnd.nextInt(60)
      val k = 1 + rnd.nextInt(12)
      val asc = rnd.nextBoolean()
      // duplicate scores on purpose → tie-break by id must hold; NaN
      // scores (code 8) must rank worst in either direction
      val xs = Seq.fill(n) {
        val c = rnd.nextInt(9)
        Scored(if (c == 8) Double.NaN else c.toDouble, rnd.nextInt(1000).toLong)
      }.distinctBy(_.id)
      val agg = new TopKAgg(k, asc)
      // random split + merge order
      val (l, r) = xs.splitAt(rnd.nextInt(xs.length + 1))
      val bufL = l.foldLeft(agg.zero)(agg.reduce)
      val bufR = r.foldLeft(agg.zero)(agg.reduce)
      val merged = if (rnd.nextBoolean()) agg.merge(bufL, bufR) else agg.merge(bufR, bufL)
      assert(bits(agg.finish(merged)) == bits(bySort(xs, k, asc)),
        s"trial $trial asc=$asc k=$k")
    }
  }

  test("exact-duplicate (score, id) candidates collapse to one entry") {
    val agg = new TopKAgg(5, false)
    val xs = Seq(Scored(2.0, 7L), Scored(2.0, 7L), Scored(1.0, 3L), Scored(2.0, 7L))
    val out = agg.finish(xs.foldLeft(agg.zero)(agg.reduce))
    assert(out == Seq(Scored(2.0, 7L), Scored(1.0, 3L)))
    // also across a merge boundary
    val a = Seq(Scored(2.0, 7L)).foldLeft(agg.zero)(agg.reduce)
    val b = Seq(Scored(2.0, 7L), Scored(0.5, 1L)).foldLeft(agg.zero)(agg.reduce)
    assert(agg.finish(agg.merge(a, b)) == Seq(Scored(2.0, 7L), Scored(0.5, 1L)))
  }

  test("TopKPairs serde round-trips NULL flags and NaN/total-order ranking") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val agg = graft.plans.TopKPairs(
      BoundReference(0, DoubleType, nullable = true),
      BoundReference(1, LongType, nullable = true),
      k = 4, asc = true, scoreNullsFirst = true, idNullsFirst = true)
    var buf = agg.createAggregationBuffer()
    // NULL score ranks FIRST under asc NULLS FIRST; NaN ranks greatest
    // among non-nulls (Spark total order)
    buf = agg.update(buf, InternalRow(2.0, 10L))
    buf = agg.update(buf, InternalRow(null, 99L))
    buf = agg.update(buf, InternalRow(Double.NaN, 5L))
    buf = agg.update(buf, InternalRow(1.0, 20L))
    val restored = agg.deserialize(agg.serialize(buf))
    val out = agg.eval(restored)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val rows = (0 until out.numElements()).map { i =>
      val r = out.getStruct(i, 2)
      (if (r.isNullAt(0)) None else Some(r.getDouble(0)),
        if (r.isNullAt(1)) None else Some(r.getLong(1)))
    }
    assert(rows.head == (None, Some(99L)), s"NULL must rank first: $rows")
    assert(rows(1) == (Some(1.0), Some(20L)) && rows(2) == (Some(2.0), Some(10L)))
    assert(rows(3)._1.exists(_.isNaN) && rows(3)._2.contains(5L), s"NaN ranks last asc: $rows")
    // merge across a serde boundary preserves order
    var buf2 = agg.createAggregationBuffer()
    buf2 = agg.update(buf2, InternalRow(0.5, 30L))
    val merged = agg.merge(agg.deserialize(agg.serialize(buf)), buf2)
    val m = agg.eval(merged).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val first2 = (0 until 2).map { i =>
      val r = m.getStruct(i, 2)
      if (r.isNullAt(0)) None else Some(r.getDouble(0))
    }
    assert(first2 == Seq(None, Some(0.5)))
  }

  test("perGroup produces dense 1-based ranks per group") {
    import spark.implicits._
    val df = Seq((1L, 10L, 0.5), (1L, 11L, 0.9), (1L, 12L, 0.9), (2L, 10L, 0.1))
      .toDF("g", "id", "score")
    val out = TopK.perGroup(df, "g", "id", "score", 2, asc = false)
      .orderBy("g", "rnk").collect()
    assert(out.map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq ==
      Seq((1L, 1, 11L), (1L, 2, 12L), (2L, 1, 10L)))
  }
}
