package graft.operators

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

import scala.reflect.ClassTag

/** The collected-query scan behind BruteForce.topk, Ivf.search and
  * Pq.searchAdc, in REPOSE's shape (ICDE 2021): prune per partition,
  * then one global top-k merge. Each partition folds its
  * rows into one `Pool` per query through the caller's body, over a
  * broadcast payload destroyed when the job ends, also when it throws.
  * Pool's total (score, id) order makes the merge order-free, so rows
  * are bit-identical to the TopKAgg `perGroup` shuffle this replaced. */
object QueryScan {

  /** (qid, rnk, id, score): perGroup's row. */
  type Hit = (Long, Int, Long, Double)

  /** Whether `nq` pools of `k` merge on the driver: the treeAggregate
    * partials that reach it (≤ 2√parts + 1 of 16·k + 64 B per pool)
    * take at most an eighth of spark.driver.maxResultSize and of the
    * heap, leaving room for the merged rows' one-partition frame. */
  private[graft] def onDriver(sc: SparkContext, parts: Int, nq: Int, k: Int): Boolean = {
    val max = sc.getConf.getSizeAsBytes("spark.driver.maxResultSize", "1g") // 0 = unlimited
    val cap = math.min(if (max > 0) max else Long.MaxValue, Runtime.getRuntime.maxMemory)
    val partials = math.min(parts, 2 * math.ceil(math.sqrt(parts)).toInt + 1)
    BigInt(nq) * (16L * k + 64) * partials * 8 <= cap
  }

  /** The merged top-k over `base` of each of `qids` (ascending; a
    * repeated qid's pools merge into one group, as under perGroup): on
    * the driver in ONE map-only job (Left) when `onDriver`, else by a
    * shuffle keyed on qid over the session's width whose rows are
    * local-checkpointed (Right; a 500k-query × k=48 training-list build
    * holds 24M candidates). */
  def merged[P: ClassTag](base: RDD[InternalRow], qids: Array[Long], payload: P, k: Int,
      asc: Boolean)(body: (P, Iterator[InternalRow], Array[Pool]) => Unit): Either[Seq[Hit], RDD[Hit]] = {
    val sc = base.sparkContext
    val bc = sc.broadcast((payload, qids))
    val partial = base.mapPartitions { it =>
      val ps = Array.fill(bc.value._2.length)(Pool(k))
      body(bc.value._1, it, ps)
      Iterator.single(ps)
    }
    def merge(a: Array[Pool], b: Array[Pool]) = { a.indices.foreach(qi => a(qi).merge(b(qi), asc)); a }
    try if (onDriver(sc, base.getNumPartitions, qids.length, k))
      Left(rows(qids, partial.treeAggregate(Array.fill(qids.length)(Pool(k)))(merge, merge), asc))
    else {
      val out = partial.flatMap(ps => bc.value._2.iterator.zip(ps.iterator).filter(_._2.size > 0))
        .reduceByKey((a, b) => a.merge(b, asc), sc.defaultParallelism)
        .flatMap { case (qid, p) => (0 until p.size).map(r => (qid, r + 1, p.ids(r), p.scores(r))) }
      out.localCheckpoint()
      out.count()
      Right(out)
    } finally bc.destroy()
  }

  private def rows(qids: Array[Long], pools: Array[Pool], asc: Boolean): Seq[Hit] =
    qids.indices.filter(qi => qi == 0 || qids(qi) != qids(qi - 1)).flatMap { qi =>
      val p = pools(qi)
      qids.indices.drop(qi + 1).takeWhile(qids(_) == qids(qi)).foreach(j => p.merge(pools(j), asc))
      (0 until p.size).map(r => (qids(qi), r + 1, p.ids(r), p.scores(r)))
    }

  /** The (qid, qv as float) query bank, qid ascending. */
  def queries(df: DataFrame): Array[(Long, Array[Float])] =
    df.select(col("qid").cast("long"), col("qv").cast("array<float>")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)

  /** `merged` over `base`'s rows as a (qid, rnk, idCol, scoreCol) frame:
    * `onePartition`, or over the checkpointed rows. */
  def search[P: ClassTag](base: DataFrame, qs: Array[(Long, Array[Float])], payload: P,
      k: Int, asc: Boolean, idCol: String, scoreCol: String)(
      body: (P, Iterator[InternalRow], Array[Pool]) => Unit): DataFrame = {
    val s = base.sparkSession
    import s.implicits._
    val names = Seq("qid", "rnk", idCol, scoreCol)
    merged(base.queryExecution.toRdd, qs.map(_._1), payload, k, asc)(body)
      .fold(onePartition(s, names, _), _.toDF(names: _*))
  }

  /** Driver-merged rows as ONE partition whose plan declares
    * `SinglePartition` (also when empty), so a sort or a per-qid window
    * above it plans no exchange. Their size is known, so a join
    * broadcasts them as it would a local relation. Rows are built as
    * unsafe rows here: boxed doubles would ship through
    * doubleToLongBits, which folds a NaN's raw bits (lesson 67). */
  private def onePartition(s: SparkSession, names: Seq[String], hits: Seq[Hit]): DataFrame = {
    val out = names.zip(Seq(LongType, IntegerType, LongType, DoubleType))
      .map { case (n, t) => AttributeReference(n, t, nullable = false)() }
    val proj = UnsafeProjection.create(out.map(_.dataType).toArray)
    val rdd = s.sparkContext.parallelize[InternalRow](
      hits.map { case (q, r, id, sc) => proj(InternalRow(q, r, id, sc)).copy() }, 1)
    val stats = Statistics(EstimationUtils.getSizePerRow(out) * hits.length, Some(BigInt(hits.length)))
    Bridge.ofRows(s, LogicalRDD(out, rdd, SinglePartition)(
      s.asInstanceOf[org.apache.spark.sql.classic.SparkSession], Some(stats)))
  }
}
