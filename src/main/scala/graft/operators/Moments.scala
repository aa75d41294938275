package graft.operators

import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.functions.udaf

/** Per-dimension moment sums over a vector column in ONE pass — the
  * array-aggregation replacement for posexplode + groupBy(label, dim):
  * no row explosion (×dim fewer rows into the aggregate) and one
  * shuffle instead of two.
  *
  * Exactness contract (SURVEY §6): elements are quantized with
  * floor(x·1e6 + 0.5) — identical to the SQL oracle — and summed as
  * Longs, so results equal the explode-based formulation bit-for-bit.
  * Long capacity bounds rows-per-group at ~9e11 (sums of |xq| ≤ 1e7);
  * beyond that, shard groups (salt) before merging.
  */
final case class MomentsBuf(var n: Long, sums: Array[Long], sumsqs: Array[Long])

final class MomentsAgg(dim: Int) extends Aggregator[Array[Float], MomentsBuf, MomentsBuf] {

  override def zero: MomentsBuf = MomentsBuf(0L, new Array[Long](dim), new Array[Long](dim))

  override def reduce(b: MomentsBuf, v: Array[Float]): MomentsBuf = {
    val n = math.min(dim, v.length)
    var i = 0
    while (i < n) {
      val xq = math.floor(v(i).toDouble * 1000000.0 + 0.5).toLong
      b.sums(i) += xq
      b.sumsqs(i) += xq * xq
      i += 1
    }
    b.n += 1
    b
  }

  override def merge(a: MomentsBuf, b: MomentsBuf): MomentsBuf = {
    var i = 0
    while (i < dim) { a.sums(i) += b.sums(i); a.sumsqs(i) += b.sumsqs(i); i += 1 }
    a.n += b.n
    a
  }

  override def finish(r: MomentsBuf): MomentsBuf = r
  override def bufferEncoder: Encoder[MomentsBuf] = ExpressionEncoder()
  override def outputEncoder: Encoder[MomentsBuf] = ExpressionEncoder()
}

object Moments {
  /** agg column: struct(n, sums: array<long>, sumsqs: array<long>). */
  def moments(dim: Int): Column => Column = {
    val u = udaf(new MomentsAgg(dim), ExpressionEncoder[Array[Float]]())
    c => u(c)
  }
}
