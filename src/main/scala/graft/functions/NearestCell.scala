package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** The one nearest-cell fold: the float-widened L2² distance from one
  * row to every centroid of a bank, compiled Scala that IVF assign,
  * the Lloyd rounds, the IVF probe and the PQ encode all call.
  *
  * Each (row, centroid) distance is one sequential left fold over the
  * shared prefix in element order, the VecL2Sq fold, so every distance
  * keeps its bits. The loop tiles over 4 centroids at a time: the
  * widened row element is read once per tile and feeds four
  * independent folds (measured on one thread, 8,500 rows × 64
  * centroids × 512-d: 0.53–0.55 ns per multiply-add against 0.71–0.81
  * for one centroid at a time; a tile of 8 read 0.67). Argmin callers
  * scan the distances in ascending cid with a strict Double.compare,
  * so exact ties keep the lowest cid and NaN never wins.
  *
  * An instance holds one caller's reused buffers (the widened row and
  * the distances) and is not thread-safe: each task, generated class
  * or driver call makes its own. */
final class NearestCell {
  private var row = new Array[Double](0)
  private var n = 0
  private var dist = new Array[Double](0)

  /** Widen `a` (float elements if `isFloat`, else double) into the row buffer. */
  def load(a: ArrayData, isFloat: Boolean): NearestCell = {
    n = a.numElements()
    if (row.length < n) row = new Array[Double](n)
    var i = 0
    if (isFloat) while (i < n) { row(i) = a.getFloat(i).toDouble; i += 1 }
    else while (i < n) { row(i) = a.getDouble(i); i += 1 }
    this
  }

  def load(v: Array[Float]): NearestCell = {
    n = v.length
    if (row.length < n) row = new Array[Double](n)
    var i = 0
    while (i < n) { row(i) = v(i).toDouble; i += 1 }
    this
  }

  /** dist(c) = the L2² from the loaded row's window [off, off + len)
    * to bank(c), over min(len, bank(c).length) elements; the returned
    * buffer is reused by the next call and holds bank.length values. */
  def distances(bank: Array[Array[Double]], off: Int, len: Int): Array[Double] = {
    require(off >= 0 && len >= 0 && off + len <= n, s"window [$off, +$len) outside a row of $n")
    if (dist.length < bank.length) dist = new Array[Double](bank.length)
    val r = row
    var c = 0
    while (c + 4 <= bank.length) {
      val b0 = bank(c); val b1 = bank(c + 1); val b2 = bank(c + 2); val b3 = bank(c + 3)
      val m0 = math.min(len, b0.length); val m1 = math.min(len, b1.length)
      val m2 = math.min(len, b2.length); val m3 = math.min(len, b3.length)
      val m = math.min(math.min(m0, m1), math.min(m2, m3))
      var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
      var i = 0
      while (i < m) {
        val x = r(off + i)
        val d0 = x - b0(i); val d1 = x - b1(i); val d2 = x - b2(i); val d3 = x - b3(i)
        s0 += d0 * d0; s1 += d1 * d1; s2 += d2 * d2; s3 += d3 * d3
        i += 1
      }
      // a centroid longer than the tile's shared prefix finishes its own fold
      dist(c) = fold(r, off, b0, m, m0, s0)
      dist(c + 1) = fold(r, off, b1, m, m1, s1)
      dist(c + 2) = fold(r, off, b2, m, m2, s2)
      dist(c + 3) = fold(r, off, b3, m, m3, s3)
      c += 4
    }
    while (c < bank.length) {
      dist(c) = fold(r, off, bank(c), 0, math.min(len, bank(c).length), 0.0)
      c += 1
    }
    dist
  }

  /** Index of the nearest centroid of `bank` to the row's window:
    * ascending index, strict Double.compare from +∞ (index 0 when
    * every distance is NaN). */
  def nearest(bank: Array[Array[Double]], off: Int, len: Int): Int = {
    val d = distances(bank, off, len)
    var best = Double.PositiveInfinity
    var bestC = 0
    var c = 0
    while (c < bank.length) {
      if (java.lang.Double.compare(d(c), best) < 0) { best = d(c); bestC = c }
      c += 1
    }
    bestC
  }

  /** Nearest centroid to the whole loaded row. */
  def nearest(bank: Array[Array[Double]]): Int = nearest(bank, 0, n)

  /** Continue the left fold `acc` over elements [from, to) of cv. */
  private def fold(r: Array[Double], off: Int, cv: Array[Double], from: Int, to: Int,
      acc: Double): Double = {
    var s = acc; var i = from
    while (i < to) { val d = r(off + i) - cv(i); s += d * d; i += 1 }
    s
  }
}
