package graft

import graft.functions.{NearestCell, PqEncodeCodes, VecNearestCid}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** NearestCell's tiled fold against the plain sequential fold, bit for
  * bit, and its argmin against an ascending-cid scan with a strict
  * Double.compare; VecNearestCid and PqEncodeCodes give the same answer
  * on the generated-code path and on `eval`. */
class NearestCellSpec extends AnyFunSuite with SharedSpark {

  /** The sequential left fold over the shared prefix of row[off, off+len). */
  private def fold(row: Array[Double], off: Int, len: Int, cv: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < math.min(len, cv.length)) { val d = row(off + i) - cv(i); s += d * d; i += 1 }
    s
  }

  private def argmin(ds: Seq[Double]): Int =
    ds.indices.foldLeft((Double.PositiveInfinity, 0)) { case ((b, bi), c) =>
      if (java.lang.Double.compare(ds(c), b) < 0) (ds(c), c) else (b, bi)
    }._2

  private val rnd = new scala.util.Random(7)
  private def vec(d: Int): Array[Float] = Array.fill(d)(rnd.nextGaussian().toFloat)

  /** Rows of dim `d` that stress the fold: NaN, ±0.0, an exact tie
    * (a row equidistant from the copies planted in `bank`), a row
    * shorter and one longer than the centroids. */
  private def rows(d: Int, bank: Array[Array[Double]]): Seq[Array[Float]] =
    Seq.fill(20)(vec(d)) ++ Seq(
      vec(d).updated(d / 2, Float.NaN),
      Array.fill(d)(Float.NaN),
      Array.fill(d)(0.0f), Array.fill(d)(-0.0f),
      bank.last.map(_.toFloat),
      vec(math.max(1, d - 3)), vec(d + 5), Array.empty[Float])

  /** k centroids of dim `d`; the last is a copy of the first, so rows
    * near it tie exactly and must resolve to the lower index. */
  private def bank(k: Int, d: Int): Array[Array[Double]] = {
    val b = Array.fill(k)(vec(d).map(_.toDouble))
    if (k > 1) b(k - 1) = b(0).clone()
    b
  }

  private val shapes = for (k <- Seq(1, 3, 4, 5, 59); d <- Seq(1, 7, 13, 64)) yield (k, d)

  test("distances are the sequential fold, bit for bit; argmin is the strict ascending scan") {
    val cell = new NearestCell
    for ((k, d) <- shapes; b = bank(k, d); row <- rows(d, b)) {
      val wide = row.map(_.toDouble)
      val got = cell.load(row).distances(b, 0, row.length).take(k).toSeq
      val want = b.toSeq.map(fold(wide, 0, wide.length, _))
      assert(got.map(java.lang.Double.doubleToRawLongBits) ==
        want.map(java.lang.Double.doubleToRawLongBits), s"k=$k d=$d")
      assert(cell.nearest(b) == argmin(want), s"k=$k d=$d")
    }
  }

  test("a window and a bank of mixed centroid lengths keep each pair's fold") {
    val cell = new NearestCell
    // lengths 5, 9, 2, 9, 9, 0, 7: every tile finishes some folds alone
    val b = Array(5, 9, 2, 9, 9, 0, 7).map(n => vec(n).map(_.toDouble))
    val row = vec(20)
    val wide = row.map(_.toDouble)
    for (off <- Seq(0, 3, 11, 20); len <- Seq(0, 4, 9).filter(off + _ <= 20)) {
      val got = cell.load(row).distances(b, off, len).take(b.length).toSeq
      val want = b.toSeq.map(fold(wide, off, len, _))
      assert(got.map(java.lang.Double.doubleToRawLongBits) ==
        want.map(java.lang.Double.doubleToRawLongBits), s"off=$off len=$len")
    }
    intercept[IllegalArgumentException](cell.load(row).distances(b, 15, 9))
  }

  /** (generated-code result, `eval` result) of `e` per row of `data`,
    * one array column; the first runs in whole-stage codegen. */
  private def bothPaths(data: Seq[Array[_]], et: DataType)(e: Expression => Expression)
      : Seq[(Any, Any)] = {
    val t = ArrayType(et, containsNull = false)
    val df = spark.createDataFrame(spark.sparkContext.parallelize(data.map(Row(_)), 2),
      StructType(Seq(StructField("v", t))))
    val out = df.select(Bridge.column(e(Bridge.expr(df.col("v")))))
    assert(out.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec]))
    def plain(x: Any): Any = x match {
      case a: ArrayData => a.toIntArray().toSeq
      case s: scala.collection.Seq[_] => s.toSeq
      case v => v
    }
    val gen = out.collect().map(r => plain(r.get(0))).toSeq
    val kernel = e(BoundReference(0, t, nullable = true))
    gen.zip(data.map(v => plain(kernel.eval(InternalRow(ArrayData.toArrayData(v))))))
  }

  test("VecNearestCid: codegen == eval == the reference argmin, float and double input") {
    for ((k, d) <- Seq((1, 7), (5, 13), (59, 64))) {
      val b = bank(k, d)
      val cids = Array.tabulate(k)(c => 100L + 3 * c)
      val rs = rows(d, b)
      val want = rs.map(r => cids(argmin(b.toSeq.map(fold(r.map(_.toDouble), 0, r.length, _)))))
      val asFloat = bothPaths(rs, FloatType)(VecNearestCid(_, cids, b))
      val asDouble = bothPaths(rs.map(_.map(_.toDouble)), DoubleType)(VecNearestCid(_, cids, b))
      for ((pairs, tag) <- Seq((asFloat, "float"), (asDouble, "double"))) {
        assert(pairs.map(_._1) == want, s"$tag codegen k=$k d=$d")
        assert(pairs.map(_._2) == want, s"$tag eval k=$k d=$d")
      }
    }
  }

  test("PqEncodeCodes: codegen == eval == per-subspace argmin over slice's windows") {
    val (m, dsub, ksub) = (4, 5, 6)
    val banks = Array.fill(m)(bank(ksub, dsub))
    val cids = Array.fill(m)(Array.tabulate(ksub)(_.toLong))
    // full rows plus rows that end inside and before the last subspaces
    val rs = Seq.fill(10)(vec(m * dsub)) ++ Seq(vec(m * dsub - 2), vec(7), vec(m * dsub + 3),
      Array.fill(m * dsub)(Float.NaN), banks(0)(ksub - 1).map(_.toFloat) ++ vec(15))
    val want = rs.map { r =>
      val w = r.map(_.toDouble)
      (0 until m).map { s =>
        val off = s * dsub
        val avail = math.min(dsub, math.max(0, w.length - off))
        argmin(banks(s).toSeq.map(fold(w, math.min(off, w.length), avail, _)))
      }
    }
    for ((data, et) <- Seq((rs, FloatType), (rs.map(_.map(_.toDouble)), DoubleType))) {
      val pairs = bothPaths(data, et)(PqEncodeCodes(_, dsub, cids, banks))
      assert(pairs.map(_._1) == want, s"$et codegen")
      assert(pairs.map(_._2) == want, s"$et eval")
    }
  }
}
