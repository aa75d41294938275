package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.types._

/** The full custom-operator route (LogicalPlan + Strategy + SparkPlan)
  * for the one whole-operator semantic Spark's built-ins can't express
  * efficiently: brute-force vector top-k join. The physical node
  * collects+broadcasts the (small) query side at execution time and
  * streams the base side through tight per-partition scoring loops
  * with bounded pools — the plan-integrated form of
  * operators.BruteForce, with SQL metrics and EXPLAIN visibility.
  *
  * Output: (qid: long, bid: long, score: double) — per-partition pools
  * (≤ partitions·|Q|·k rows, UNMERGED); compose TopK.perGroup on top
  * for the global answer, exactly like the mapPartitions form.
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
    AttributeReference("bid", LongType, nullable = false)(),
    AttributeReference("score", DoubleType, nullable = false)())
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

  override protected def doExecute(): RDD[InternalRow] = {
    val numQueries = longMetric("numQueries")
    val numOutputRows = longMetric("numOutputRows")

    // collect + broadcast the query side (bounded by contract)
    val qRows = queriesPlan.executeCollect()
    val qArr: Array[(Long, Array[Float])] = qRows.map { r =>
      (r.getLong(0), r.getArray(1).toFloatArray())
    }.sortBy(_._1)
    numQueries += qArr.length
    val bc = sparkContext.broadcast(qArr)
    val m = metric
    val kk = k
    val skipSelf = excludeSelf

    // the base side is spread here, not in the plan: the work gate
    // needs the query count, known only after the collect above
    val base = graft.operators.Spread
      .wideExec(sparkContext, basePlan, basePlan.output.head, qArr.length.toLong)
      .getOrElse(basePlan)
    base.execute().mapPartitions { it =>
      val scan = new graft.operators.BruteForce.Scan(bc.value, m, kk, skipSelf)
      it.foreach(row => scan.add(row.getLong(0), row.getArray(1).toFloatArray()))
      val proj = UnsafeProjection.create(Array[DataType](LongType, LongType, DoubleType))
      val out = InternalRow(0L, 0L, 0.0)
      scan.rows.map { case (qid, bid, score) =>
        out.setLong(0, qid)
        out.setLong(1, bid)
        out.setDouble(2, score)
        numOutputRows += 1
        proj(out).copy()
      }
    }
  }

  override protected def withNewChildrenInternal(
      l: SparkPlan, r: SparkPlan): SparkPlan =
    copy(queriesPlan = l, basePlan = r)
}
