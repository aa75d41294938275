package graft.operators

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
  * Shape (SURVEY §5): queries are collected+broadcast (bounded query
  * sets — groundtruth/training queries; for self-kNN at huge N use the
  * LSH/IVF candidate paths instead); the base streams once per
  * partition into per-query bounded pools; only partitions·Q·k pooled
  * candidates reach the TopKAgg shuffle merge.
  *
  * Width: the base side goes through `Spread.wide`/`wideExec` with
  * one multiply-add per scanned float per query, so a large scan of
  * one row group is spread to the session's cores before scoring.
  *
  * Determinism: scoring widens float→double per element and left-folds
  * in index order — bit-identical to VecDot/VecL2Sq/VecCosine and the
  * DuckDB oracle (VecFold); the pools are TopKAgg's own (Pool).
  */
object BruteForce {

  /** Plan-integrated variant: same kernel as a custom LogicalPlan +
    * SparkStrategy + SparkPlan (plans.VectorTopKJoin), visible in
    * EXPLAIN with SQL metrics. Self-registers the strategy on the
    * session (also injectable via GraftExtensions). */
  def topkPlan(
      base: DataFrame,
      queries: DataFrame,
      metric: String,
      k: Int,
      excludeSelf: Boolean = false): DataFrame = {
    val asc = VecFold.code(metric) == VecFold.L2
    val spark = base.sparkSession
    if (!spark.experimental.extraStrategies.contains(graft.plans.VectorTopKJoinStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.VectorTopKJoinStrategy
    }
    val bc = org.apache.spark.sql.graftbridge.Bridge
    val node = graft.plans.VectorTopKJoin(
      bc.planOf(queries.select(col("qid"), col("qv"))),
      bc.planOf(base.select(col("bid"), col("bv"))),
      metric, k, excludeSelf)
    TopK.perGroup(bc.ofRows(spark, node), "qid", "bid", "score", k, asc)
  }

  /** @param base    (bid: long, bv: array<float>)
    * @param queries (qid: long, qv: array<float>) — must fit in memory
    * @param metric  cosine | l2 | ip
    * @return (qid, rnk, bid, score) exact top-k per query
    */
  def topk(
      base: DataFrame,
      queries: DataFrame,
      metric: String,
      k: Int,
      excludeSelf: Boolean = false): DataFrame = {
    val asc = VecFold.code(metric) == VecFold.L2
    val spark = base.sparkSession
    import spark.implicits._
    val qArr: Array[(Long, Array[Float])] =
      queries.select(col("qid"), col("qv")).as[(Long, Array[Float])]
        .collect().sortBy(_._1)
    val bc = spark.sparkContext.broadcast(qArr)
    val b = base.select(col("bid"), col("bv"))
    val pooled = Spread.wide(b, "bid", qArr.length.toLong).getOrElse(b)
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val scan = new Scan(bc.value, metric, k, excludeSelf)
        it.foreach { case (bid, bv) => scan.add(bid, bv) }
        scan.rows
      }
      .toDF("qid", "bid", "score")
    TopK.perGroup(pooled, "qid", "bid", "score", k, asc)
  }

  /** One partition's scan, shared by `topk` and VectorTopKJoinExec
    * (each keeps only its own row decoding): every base row is scored
    * against every broadcast query into that query's bounded pool. */
  private[graft] final class Scan(
      qs: Array[(Long, Array[Float])], metric: String, k: Int, excludeSelf: Boolean) {
    private val m = VecFold.code(metric)
    private val asc = m == VecFold.L2
    private val qids = qs.map(_._1)
    private val qvs = qs.map(_._2)
    private val pools = Array.fill(qs.length)(Pool(k))

    def add(bid: Long, bv: Array[Float]): Unit = {
      var qi = 0
      while (qi < qids.length) {
        if (!excludeSelf || qids(qi) != bid)
          pools(qi).insert(VecFold.score(m, qvs(qi), bv), bid, asc)
        qi += 1
      }
    }

    /** The partial pools as (qid, bid, score) rows. */
    def rows: Iterator[(Long, Long, Double)] =
      qids.indices.iterator.flatMap(qi => pools(qi).rows(qids(qi)))
  }
}
