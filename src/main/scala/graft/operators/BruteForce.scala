package graft.operators

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Tight-loop brute-force top-k: the innermost all-pairs scoring
  * kernel, written as per-partition imperative code (the one place the
  * design rules sanction mapPartitions — genuine per-partition
  * imperative logic). The join/aggregate formulation pays ~µs of
  * row-machinery per pair; this kernel pays the ~60ns the 64-float
  * loop actually costs, which is what "matches the reference's NumPy
  * single-node throughput" requires.
  *
  * Shape (SURVEY §5): queries are collected (bounded query sets —
  * groundtruth/training queries; for self-kNN at huge N use the
  * LSH/IVF candidate paths instead) and the base streams once per
  * partition into per-query bounded pools (QueryScan), merged on the
  * driver in one map-only job while |Q|·k is small enough, else by a
  * shuffle keyed on qid.
  *
  * Width: the base side goes through `Spread.wide`/`wideExec` with one
  * multiply-add per scanned float per query, so a large scan of one
  * row group is spread to the session's cores before scoring.
  *
  * Determinism: scoring widens float→double per element and left-folds
  * in index order — bit-identical to VecDot/VecL2Sq/VecCosine and the
  * DuckDB oracle (VecFold); the pools are TopKAgg's own (Pool).
  */
object BruteForce {

  /** Exact top-k per query as a custom LogicalPlan + SparkStrategy +
    * SparkPlan (plans.VectorTopKJoin), visible in EXPLAIN with SQL
    * metrics; self-registers the strategy (or inject GraftExtensions).
    * @param base    (bid: long, bv: array<float>)
    * @param queries (qid: long, qv: array<float>) — must fit in memory
    * @param metric  cosine | l2 | ip
    * @return (qid, rnk, bid, score) exact top-k per query
    */
  def topkPlan(
      base: DataFrame,
      queries: DataFrame,
      metric: String,
      k: Int,
      excludeSelf: Boolean = false): DataFrame = {
    VecFold.code(metric) // an unknown metric fails here, not at execution
    val spark = base.sparkSession
    if (!spark.experimental.extraStrategies.contains(graft.plans.VectorTopKJoinStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.VectorTopKJoinStrategy
    }
    val bc = org.apache.spark.sql.graftbridge.Bridge
    bc.ofRows(spark, graft.plans.VectorTopKJoin(
      bc.planOf(queries.select(col("qid"), col("qv"))),
      bc.planOf(base.select(col("bid"), col("bv"))),
      metric, k, excludeSelf))
  }

  /** `topkPlan`'s rows computed at the call by the same scan, so calls
    * forked on `Par` overlap their jobs: a local relation, or rows kept
    * spread when |Q|·k is too large for the driver (QueryScan.merged),
    * which the plan node would read as one partition. */
  def topk(
      base: DataFrame,
      queries: DataFrame,
      metric: String,
      k: Int,
      excludeSelf: Boolean = false): DataFrame = {
    val qs = QueryScan.queries(queries)
    val b = base.select(col("bid"), col("bv"))
    QueryScan.search(Spread.wide(b, "bid", qs.length.toLong).getOrElse(b), qs, qs, k,
      VecFold.code(metric) == VecFold.L2, "bid", "score")(scan(metric, excludeSelf))
  }

  /** The brute-force QueryScan body (`topk`, VectorTopKJoinExec):
    * every (bid, bv) row of one partition is scored against every
    * collected query into that query's pool. */
  private[graft] def scan(metric: String, excludeSelf: Boolean)
      : (Array[(Long, Array[Float])], Iterator[InternalRow], Array[Pool]) => Unit = {
    val m = VecFold.code(metric)
    val asc = m == VecFold.L2
    (qs, it, pools) => it.foreach { row =>
      val (bid, bv) = (row.getLong(0), row.getArray(1).toFloatArray())
      var qi = 0
      while (qi < qs.length) {
        if (!excludeSelf || qs(qi)._1 != bid) pools(qi).insert(VecFold.score(m, qs(qi)._2, bv), bid, asc)
        qi += 1
      }
    }
  }
}
