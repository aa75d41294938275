package graft.operators

import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}

/** One (score, id) candidate. Ordering is strict-total: score, then id
  * — so top-k sets are deterministic under any merge order. */
final case class Scored(score: Double, id: Long)

/** Mutable bounded pool of capacity `scores.length`: parallel
  * primitive arrays kept sorted best-first, mutated in place per input
  * row — no per-row allocation. The ONE home of the pool rule: TopKAgg
  * and every imperative kernel's local pools insert through it, so a
  * partial pool always merges under the rule it was filled with. */
final case class Pool(scores: Array[Double], ids: Array[Long], var size: Int) {

  /** Keep (s, id) if it ranks among the best `scores.length` under
    * Pool.beats. An exact-duplicate (score, id) collapses into the one
    * already held (lets callers like BeamSearch feed revisited nodes
    * without a visited-set join, and a repeated base id never takes a
    * second slot that the merge would then drop). */
  def insert(s: Double, id: Long, asc: Boolean): Unit = {
    val k = scores.length
    if (size == k && Pool.beats(scores(k - 1), ids(k - 1), s, id, asc)) return
    var pos = size
    while (pos > 0 && Pool.beats(s, id, scores(pos - 1), ids(pos - 1), asc)) pos -= 1
    if (pos >= k) return
    if (pos > 0 && ids(pos - 1) == id && Pool.sameScore(scores(pos - 1), s)) return
    var j = math.min(size, k - 1)
    while (j > pos) { scores(j) = scores(j - 1); ids(j) = ids(j - 1); j -= 1 }
    scores(pos) = s; ids(pos) = id
    if (size < k) size += 1
  }

  /** Insert every candidate `o` holds; returns this pool. */
  def merge(o: Pool, asc: Boolean): Pool = {
    var i = 0
    while (i < o.size) { insert(o.scores(i), o.ids(i), asc); i += 1 }
    this
  }

  /** The held candidates as (key, id, score) rows, best first. */
  def rows(key: Long): Iterator[(Long, Long, Double)] =
    Iterator.range(0, size).map(j => (key, ids(j), scores(j)))

  /** Java serialization (task results) folds every NaN to one bit
    * pattern; a pool crosses the wire with its scores' raw bits. */
  private def writeReplace(): AnyRef = Pool.Wire(scores.map(java.lang.Double.doubleToRawLongBits), ids, size)
}

object Pool {
  def apply(k: Int): Pool = Pool(new Array[Double](k), new Array[Long](k), 0)

  private final case class Wire(bits: Array[Long], ids: Array[Long], size: Int) {
    private def readResolve(): AnyRef = Pool(bits.map(java.lang.Double.longBitsToDouble), ids, size)
  }

  /** true iff (s1,i1) ranks strictly before (s2,i2): score ascending
    * (`asc`) or descending, ties to the smaller id. NaN (e.g. cosine
    * of a zero-norm vector) always ranks WORST in either direction —
    * IEEE compares are all-false on NaN, so the naive form could never
    * displace a NaN that entered a full pool and results became
    * partition-order-dependent. */
  @inline def beats(s1: Double, i1: Long, s2: Double, i2: Long, asc: Boolean): Boolean = {
    val n1 = java.lang.Double.isNaN(s1); val n2 = java.lang.Double.isNaN(s2)
    if (n1 || n2) { if (n1 != n2) !n1 else i1 < i2 }
    else if (s1 != s2) { if (asc) s1 < s2 else s1 > s2 }
    else i1 < i2
  }

  /** equality that treats NaN == NaN (for duplicate collapse). */
  @inline private def sameScore(a: Double, b: Double): Boolean =
    a == b || (a != a && b != b)
}

/** The float-widened left folds over `Array[Float]` that every
  * imperative kernel scores with: each element widened to double, one
  * left fold in element order over the shared prefix — bit-identical
  * to VecExprs' VecL2Sq/VecCosine/VecDot and the DuckDB oracle. A
  * kernel picks its metric code once per partition (`code`); the
  * per-pair calls are plain final methods the JIT inlines. */
object VecFold {
  final val L2 = 0
  final val Cosine = 1
  final val Ip = 2

  /** cosine | l2 | ip → metric code; any other name is rejected. */
  def code(metric: String): Int = metric match {
    case "l2" => L2
    case "cosine" => Cosine
    case "ip" => Ip
    case other => throw new IllegalArgumentException(s"unknown metric $other")
  }

  def l2(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var acc = 0.0; var i = 0
    while (i < n) { val d = a(i).toDouble - b(i).toDouble; acc += d * d; i += 1 }
    math.sqrt(acc)
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    dot / math.sqrt(na * nb)
  }

  def dot(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var acc = 0.0; var i = 0
    while (i < n) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }

  /** BruteForce's score: l2 distance (ranked asc), cosine or dot
    * similarity (ranked desc). */
  def score(m: Int, a: Array[Float], b: Array[Float]): Double =
    if (m == L2) l2(a, b) else if (m == Cosine) cosine(a, b) else dot(a, b)

  /** Vec.metricDist's distance (smaller = closer): cosine/ip negated. */
  def dist(m: Int, a: Array[Float], b: Array[Float]): Double =
    if (m == L2) l2(a, b) else -score(m, a, b)
}

/** Bounded top-k as a typed Aggregator.
  *
  * This is the scale-critical primitive behind every similarity-search
  * operator (SURVEY §5): because it is an Aggregator, Spark runs it
  * with map-side partial aggregation — each input partition reduces to
  * at most k candidates per group BEFORE the shuffle, so a brute-force
  * scan over B base rows × Q queries shuffles O(partitions·Q·k) small
  * buffers instead of O(B·Q) pairs. The reference's equivalent is the
  * bounded candidate pool in its beam searches
  * (roargraph_python.py:31-63 NeighborPriorityQueue).
  *
  * @param k    pool size
  * @param asc  true = smallest scores win (distances), false = largest
  *             (similarities). Ties always break by ascending id.
  */
final class TopKAgg(k: Int, asc: Boolean)
    extends Aggregator[Scored, Pool, Seq[Scored]] {

  override def zero: Pool = Pool(k)
  override def reduce(p: Pool, x: Scored): Pool = { p.insert(x.score, x.id, asc); p }
  override def merge(a: Pool, b: Pool): Pool = a.merge(b, asc)
  override def finish(p: Pool): Seq[Scored] =
    (0 until p.size).map(i => Scored(p.scores(i), p.ids(i)))
  override def bufferEncoder: Encoder[Pool] = TopKAgg.poolEnc
  override def outputEncoder: Encoder[Seq[Scored]] = TopKAgg.seqEnc
}

object TopKAgg {
  /** Encoders are pure schema derivations — one reflection pass each,
    * shared by every TopKAgg instance (round 15: bufferEncoder/
    * outputEncoder are called during PLANNING of every aggregation, so
    * per-instance ExpressionEncoder() re-derivation was a driver-side
    * tax on all ~50 top-k call sites, several of them inside per-round
    * search loops). */
  private[operators] val poolEnc: Encoder[Pool] = ExpressionEncoder()
  private[operators] val seqEnc: Encoder[Seq[Scored]] = ExpressionEncoder()
}

object TopK {

  /** udaf wrappers memoized per (k, asc): the TopKAgg instance is
    * stateless (k, asc only) and UserDefinedFunction application just
    * wraps it in a fresh Column expression, so one registered wrapper
    * serves every call site and every thread (round 15 — driver-side
    * plan-build cost, output-invariant). */
  private val udafCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Boolean),
      org.apache.spark.sql.expressions.UserDefinedFunction]()

  /** Column function: top-k of (score, id) pairs per group. */
  def topkAgg(k: Int, asc: Boolean): (Column, Column) => Column = {
    val u = udafCache.computeIfAbsent((k, asc),
      _ => udaf(new TopKAgg(k, asc), Encoders.product[Scored]))
    (score, id) => u(score, id)
  }

  /** Per-group top-k of `scored` rows → (groupCols*, rnk, id, score),
    * rnk 1-based, ordered (score asc|desc, id). */
  def perGroup(
      scored: DataFrame,
      groupCol: String,
      idCol: String,
      scoreCol: String,
      k: Int,
      asc: Boolean): DataFrame = {
    val agg = topkAgg(k, asc)(col(scoreCol), col(idCol))
    scored
      .groupBy(col(groupCol))
      .agg(agg.as("pool"))
      .select(col(groupCol), posexplode(col("pool")).as(Seq("pos", "s")))
      .select(
        col(groupCol),
        (col("pos") + 1).cast("int").as("rnk"),
        col("s.id").as(idCol),
        col("s.score").as(scoreCol))
  }
}
