package graft.plans

import graft.operators.{BruteForce, QueryScan, Spread, VecFold}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types._

/** The full custom-operator route (LogicalPlan + Strategy + SparkPlan)
  * for the one whole-operator semantic Spark's built-ins can't express
  * efficiently: brute-force vector top-k join. The physical node
  * collects the (small) query side at execution time and streams the
  * base side through tight per-partition scoring loops with bounded
  * pools (operators.QueryScan, BruteForce.scan's body), with SQL
  * metrics and EXPLAIN visibility.
  *
  * Output: (qid: long, rnk: int, bid: long, score: double) — the
  * merged top-k per query (TopK.perGroup's shape) as ONE partition, so
  * a sort or a per-qid window above it needs no exchange (a merge too
  * large for the driver runs spread and is read as that partition).
  */
case class VectorTopKJoin(
    queries: LogicalPlan, // (qid: long, qv: array<float>)
    base: LogicalPlan, // (bid: long, bv: array<float>)
    metric: String,
    k: Int,
    excludeSelf: Boolean,
    // output attrs live in the constructor: recomputing them per
    // instance would mint fresh exprIds on every optimizer copy() and
    // break downstream attribute binding
    output: Seq[Attribute] = VectorTopKJoin.freshOutput()) extends BinaryNode {
  override def left: LogicalPlan = queries
  override def right: LogicalPlan = base
  /** No expressions on this node → default `references` would be empty
    * and ColumnPruning would strip the children bare (runtime segfault
    * reading pruned rows). Every child column is required. */
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(queries.output ++ base.output)
  override protected def withNewChildrenInternal(
      l: LogicalPlan, r: LogicalPlan): LogicalPlan =
    copy(queries = l, base = r)
}

object VectorTopKJoin {
  def freshOutput(): Seq[Attribute] = Seq(
    AttributeReference("qid", LongType, nullable = false)(),
    AttributeReference("rnk", IntegerType, nullable = false)(),
    AttributeReference("bid", LongType, nullable = false)(),
    AttributeReference("score", DoubleType, nullable = false)())

  /** QueryScan's rows as this node's unsafe rows, counted into `n`. */
  private[plans] def unsafe(hits: Iterator[QueryScan.Hit], n: SQLMetric): Iterator[InternalRow] = {
    val proj = UnsafeProjection.create(Array[DataType](LongType, IntegerType, LongType, DoubleType))
    hits.map { case (q, r, b, s) => n += 1; proj(InternalRow(q, r, b, s)).copy() }
  }
}

/** Planner strategy (inject via GraftExtensions). */
object VectorTopKJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: VectorTopKJoin =>
      VectorTopKJoinExec(planLater(j.queries), planLater(j.base),
        j.metric, j.k, j.excludeSelf, j.output) :: Nil
    case _ => Nil
  }
}

case class VectorTopKJoinExec(
    queriesPlan: SparkPlan,
    basePlan: SparkPlan,
    metric: String,
    k: Int,
    excludeSelf: Boolean,
    override val output: Seq[Attribute]) extends BinaryExecNode {

  override def left: SparkPlan = queriesPlan
  override def right: SparkPlan = basePlan

  override lazy val metrics = Map(
    "numQueries" -> SQLMetrics.createMetric(sparkContext, "number of query vectors"),
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def outputPartitioning: Partitioning = SinglePartition

  /** The merged rows, computed once per node: on the driver, or
    * QueryScan's checkpointed shuffle merge read as one partition. */
  private lazy val merged: Either[Array[InternalRow], RDD[InternalRow]] = {
    val qs = queriesPlan.executeCollect().map(r => (r.getLong(0), r.getArray(1).toFloatArray())).sortBy(_._1)
    longMetric("numQueries") += qs.length
    // the base side is spread here, not in the plan: the work gate
    // needs the query count, known only after the collect above
    val base = Spread.wideExec(sparkContext, basePlan, basePlan.output.head, qs.length.toLong).getOrElse(basePlan)
    val asc = VecFold.code(metric) == VecFold.L2
    val n = longMetric("numOutputRows")
    QueryScan.merged(base.execute(), qs.map(_._1), qs, k, asc)(BruteForce.scan(metric, excludeSelf)) match {
      case Left(hits) => Left(VectorTopKJoin.unsafe(hits.iterator, n).toArray)
      case Right(hits) => Right(hits.mapPartitions(VectorTopKJoin.unsafe(_, n)).coalesce(1))
    }
  }

  override def executeCollect(): Array[InternalRow] = merged.fold(identity, _ => super.executeCollect())

  override protected def doExecute(): RDD[InternalRow] =
    merged.fold(rows => sparkContext.parallelize(rows.toSeq, 1), identity)

  override protected def withNewChildrenInternal(
      l: SparkPlan, r: SparkPlan): SparkPlan =
    copy(queriesPlan = l, basePlan = r)
}
