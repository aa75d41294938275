package graft.operators

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
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
  * driver in one map-only job while |Q|·k is small enough (a frame that
  * declares one partition), else by a shuffle keyed on qid.
  *
  * Width: the base side goes through `Spread.wide` with one
  * multiply-add per scanned float per query, so a large scan of one
  * row group is spread to the session's cores before scoring.
  *
  * Determinism: scoring widens float→double per element and left-folds
  * in index order — bit-identical to VecDot/VecL2Sq/VecCosine and the
  * DuckDB oracle (VecFold); the pools are TopKAgg's own (Pool).
  */
object BruteForce {

  /** Exact top-k per query, computed at the call so calls forked on
    * `Par` overlap their jobs. An unknown metric fails before any job.
    * @param base    (bid: long, bv: array<float>)
    * @param queries (qid: long, qv: array<float>) — must fit in memory
    * @param metric  cosine | l2 | ip
    * @return (qid, rnk, bid, score) exact top-k per query: one declared
    *         partition, or rows kept spread when |Q|·k is too large for
    *         the driver (QueryScan.search)
    */
  def topk(
      base: DataFrame,
      queries: DataFrame,
      metric: String,
      k: Int,
      excludeSelf: Boolean = false): DataFrame = {
    val asc = VecFold.code(metric) == VecFold.L2
    val qs = QueryScan.queries(queries)
    val b = base.select(col("bid"), col("bv"))
    QueryScan.search(Spread.wide(b, "bid", qs.length.toLong).getOrElse(b), qs, qs, k,
      asc, "bid", "score")(scan(metric, excludeSelf))
  }

  /** The brute-force QueryScan body: every (bid, bv) row of one
    * partition is scored against every collected query into that
    * query's pool. */
  private def scan(metric: String, excludeSelf: Boolean)
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
