package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd vector kernels over array<float>/array<double> columns.
  *
  * The higher-order-function formulation (`aggregate(zip_with(...))`)
  * materializes an intermediate array per row pair — at B·Q pairs that
  * allocation dominates brute-force search. These expressions loop over
  * the two ArrayData buffers directly inside whole-stage codegen: zero
  * allocation, float elements widened to double per element.
  *
  * Determinism contract unchanged: each accumulator is a left fold in
  * element order over doubles, so results are bit-identical to the
  * HOF forms and to the DuckDB oracle fragments (Vec.sql*).
  *
  * Reference semantics: l2/cosine/ip distances,
  * /root/reference/hnsw_cosine_status_high.py:26-45,
  * /root/reference/roargraph_python.py:106-127.
  */
abstract class VecBinaryKernel extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  protected def elemType(e: Expression): DataType = e.dataType match {
    case ArrayType(et, _) => et
    case other => throw new IllegalArgumentException(
      s"vector kernel needs an array column, got $other")
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"expected array<float|double>, got ${left.dataType} / ${right.dataType}")
  }

  /** Scala-side element accessor (interpreted path). */
  protected def get(a: ArrayData, i: Int, et: DataType): Double = et match {
    case FloatType => a.getFloat(i).toDouble
    case _ => a.getDouble(i)
  }

  /** Java source for reading element i of `arr` as double. */
  protected def jget(arr: String, i: String, et: DataType): String = et match {
    case FloatType => s"(double) $arr.getFloat($i)"
    case _ => s"$arr.getDouble($i)"
  }
}

/** Left-fold dot product. */
case class VecDot(left: Expression, right: Expression) extends VecBinaryKernel {
  override def nullSafeEval(l: Any, r: Any): Any = {
    val (a, b) = (l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    val (ea, eb) = (elemType(left), elemType(right))
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0; var i = 0
    while (i < n) { s += get(a, i, ea) * get(b, i, eb); i += 1 }
    s
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (i, n, s) = (ctx.freshName("i"), ctx.freshName("n"), ctx.freshName("s"))
      s"""
       |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
       |double $s = 0.0;
       |for (int $i = 0; $i < $n; $i++) {
       |  $s += ${jget(a, i, elemType(left))} * ${jget(b, i, elemType(right))};
       |}
       |${ev.value} = $s;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Left-fold squared L2 distance. */
case class VecL2Sq(left: Expression, right: Expression) extends VecBinaryKernel {
  override def nullSafeEval(l: Any, r: Any): Any = {
    val (a, b) = (l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    val (ea, eb) = (elemType(left), elemType(right))
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0; var i = 0
    while (i < n) { val d = get(a, i, ea) - get(b, i, eb); s += d * d; i += 1 }
    s
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (i, n, s, d) =
        (ctx.freshName("i"), ctx.freshName("n"), ctx.freshName("s"), ctx.freshName("d"))
      s"""
       |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
       |double $s = 0.0;
       |for (int $i = 0; $i < $n; $i++) {
       |  double $d = ${jget(a, i, elemType(left))} - ${jget(b, i, elemType(right))};
       |  $s += $d * $d;
       |}
       |${ev.value} = $s;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Scaled squared-L2 (LC-CMD rerank distance, Idea-1023.md):
  * Σ ((a_k−b_k)²)/scale_k as one fused left fold — `scale` is the
  * precomputed per-label-pair denominator array, so the hot loop does
  * no allocation and no per-pair variance math. */
case class VecScaledL2(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  private def et(e: Expression): DataType = e.dataType match {
    case ArrayType(t, _) => t
    case other => throw new IllegalArgumentException(s"need array, got $other")
  }
  private def get(a: ArrayData, i: Int, t: DataType): Double = t match {
    case FloatType => a.getFloat(i).toDouble
    case _ => a.getDouble(i)
  }
  private def jget(arr: String, i: String, t: DataType): String = t match {
    case FloatType => s"(double) $arr.getFloat($i)"
    case _ => s"$arr.getDouble($i)"
  }

  override def nullSafeEval(l: Any, r: Any, s3: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val w = s3.asInstanceOf[ArrayData]
    val (ea, eb, ew) = (et(first), et(second), et(third))
    val n = math.min(math.min(a.numElements(), b.numElements()), w.numElements())
    var s = 0.0; var i = 0
    while (i < n) {
      val d = get(a, i, ea) - get(b, i, eb)
      s += (d * d) / get(w, i, ew)
      i += 1
    }
    s
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, w) => {
      val (i, n, s, d) =
        (ctx.freshName("i"), ctx.freshName("n"), ctx.freshName("s"), ctx.freshName("d"))
      s"""
       |int $n = java.lang.Math.min(java.lang.Math.min($a.numElements(), $b.numElements()), $w.numElements());
       |double $s = 0.0;
       |for (int $i = 0; $i < $n; $i++) {
       |  double $d = ${jget(a, i, et(first))} - ${jget(b, i, et(second))};
       |  $s += ($d * $d) / ${jget(w, i, et(third))};
       |}
       |${ev.value} = $s;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(
      f: Expression, s2: Expression, t: Expression): Expression =
    copy(first = f, second = s2, third = t)
}

/** Nearest-centroid id over a driver-collected bank: one fused pass
  * per row, no generated rows. The crossJoin(broadcast(cents)) +
  * min(struct(d2, cid)) assignment shape materializes N·k rows and its
  * aggregation falls back to a sort at large k — at 10M×1024 cells that
  * sort spilled a 10-billion-row run to disk until it filled (the round-9
  * scale-run failure). This kernel keeps assignment a map-only scan at
  * any k.
  *
  * Bit-identical to min(struct(VecL2Sq(emb, cv), cid)) by construction:
  * the distances are NearestCell's, each the same float-widened left
  * fold in element order, and the argmin visits candidates in
  * ascending-cid order with a strict Double.compare update, so exact
  * d2 ties keep the smallest cid and NaN orders largest — the
  * lexicographic struct-min contract.
  *
  * The fold runs as compiled Scala on both paths: the generated code
  * is one call into `nearestCid` with the generated class's own
  * NearestCell buffers. A fold inlined into generated Java runs cold
  * for its first calls in a JVM, and a one-shot IVF build calls it
  * once (CLAUDE.md lesson 70).
  *
  * The bank rides the expression into the stage's task binary, which
  * Spark broadcasts once per stage — same shipping cost as the
  * broadcast join it replaces, minus the join. */
case class VecNearestCid(child: Expression, cids: Array[Long], bank: Array[Array[Double]])
    extends NearestCellKernel {
  require(bank.nonEmpty && cids.length == bank.length,
    s"centroid bank mismatch: ${cids.length} ids vs ${bank.length} vectors")

  override def dataType: DataType = LongType

  def nearestCid(cell: NearestCell, a: ArrayData): Long =
    cids(cell.load(a, isFloat).nearest(bank))

  override def nullSafeEval(v: Any): Any = nearestCid(new NearestCell, v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    kernelCall(ctx, ev, "nearestCid")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** An array<float|double> → value expression whose per-row work is a
  * Scala method taking a NearestCell: `eval` calls it with fresh
  * buffers, generated code calls it with the generated class's own. */
abstract class NearestCellKernel extends UnaryExpression {
  override def nullIntolerant: Boolean = true

  @transient protected lazy val isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"expected array<float|double>, got $other")
    }

  /** `ev.value = this.method(cell, child)`, one line of generated code. */
  protected def kernelCall(ctx: CodegenContext, ev: ExprCode, method: String): ExprCode = {
    val kernel = ctx.addReferenceObj("kernel", this)
    val cls = classOf[NearestCell].getName
    val cell = ctx.addMutableState(cls, "nearestCell", v => s"$v = new $cls();")
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $kernel.$method($cell, $a);")
  }
}

/** Fused cosine: dot, |a|², |b|² in one pass (three independent left
  * folds), result dot/sqrt(n2a*n2b) — associating exactly like
  * Vec.sqlCosine. */
case class VecCosine(left: Expression, right: Expression) extends VecBinaryKernel {
  override def nullSafeEval(l: Any, r: Any): Any = {
    val (a, b) = (l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    val (ea, eb) = (elemType(left), elemType(right))
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = get(a, i, ea); val y = get(b, i, eb)
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    dot / math.sqrt(na * nb)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (i, n) = (ctx.freshName("i"), ctx.freshName("n"))
      val (dot, na, nb) = (ctx.freshName("dot"), ctx.freshName("na"), ctx.freshName("nb"))
      val (x, y) = (ctx.freshName("x"), ctx.freshName("y"))
      s"""
       |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
       |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
       |for (int $i = 0; $i < $n; $i++) {
       |  double $x = ${jget(a, i, elemType(left))};
       |  double $y = ${jget(b, i, elemType(right))};
       |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
       |}
       |${ev.value} = $dot / java.lang.Math.sqrt($na * $nb);
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Whole-code PQ encode: all m subspace argmins in ONE kernel pass —
  * embedding in, the m-wide code array out, the codebook banks living
  * in the expression object (not the plan).
  *
  * Replaces the m × (slice + VecNearestCid) column form in a single
  * Project (the round-10 open item 36): at the 200d rule's m=50 that
  * form emitted 50 slice/kernel pairs of generated Java, fell out of
  * whole-stage codegen, and the 2M×200d encode never finished. Here
  * the per-row work is one call into `codes`, whatever m is.
  *
  * Bit-identical to the column form by construction: the row is
  * widened once and subspace s is NearestCell's window [s·dsub,
  * s·dsub + avail), avail = min(dsub, max(0, n − s·dsub)) — exactly
  * the elements slice(emb, s·dsub+1, dsub) exposes (same short-array
  * clamping); each distance is the same float-widened left fold in
  * element order, and candidates are visited in ascending-cid order
  * with a strict Double.compare update — the min(struct(d2, cid))
  * tie-break VecNearestCid mirrors. PqSpec pins the equality at
  * m ∈ {8, 16, 50}.
  *
  * Reference semantics: per-subspace nearest-codeword assignment,
  * the standard PQ encode (Jégou et al., TPAMI 2011). */
case class PqEncodeCodes(child: Expression,
    dsub: Int,
    cids: Array[Array[Long]],
    banks: Array[Array[Array[Double]]])
    extends NearestCellKernel {
  require(banks.nonEmpty && cids.length == banks.length,
    s"codebook mismatch: ${cids.length} cid banks vs ${banks.length} subspaces")
  require(dsub > 0, s"dsub must be positive, got $dsub")
  require(banks.indices.forall(s => banks(s).nonEmpty && cids(s).length == banks(s).length),
    "every subspace needs a non-empty, id-aligned centroid bank")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  def codes(cell: NearestCell, a: ArrayData): ArrayData = {
    val n = a.numElements()
    cell.load(a, isFloat)
    val out = new Array[Int](banks.length)
    var s = 0
    while (s < banks.length) {
      val off = s * dsub
      val avail = math.min(dsub, math.max(0, n - off))
      out(s) = cids(s)(cell.nearest(banks(s), math.min(off, n), avail)).toInt
      s += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  override def nullSafeEval(v: Any): Any = codes(new NearestCell, v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    kernelCall(ctx, ev, "codes")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
