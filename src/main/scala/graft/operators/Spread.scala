package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.{Column, DataFrame}

import scala.jdk.CollectionConverters._

/** Fan-out after narrow scans (guide §2.5 "input skew: one huge
  * unsplittable file — repartition immediately after the read").
  *
  * Spark cannot split a parquet row group, so a scan's real width is
  * the number of row groups holding rows, not its planned splits: a
  * 70 MB one-row-group file plans four byte-range splits whose row
  * counts are [0, 34000, 0, 0]. Every test-SF table and every
  * perfbench corpus is one row group, so any per-row-heavy chain above
  * such a scan runs on ONE core whatever the session size. `width`
  * counts row groups from the parquet footers, read on the driver and
  * only when the scan has fewer files than the session has cores (a
  * wider file list is already as wide as the session); it runs no
  * Spark job.
  *
  * Two entry rules:
  *  - `wide`: the vector operators' base side (BruteForce.topk,
  *    Ivf.sizedBuild, Pq.encode) — every call goes through it, no
  *    query opts in. It fires only when the call's
  *    arithmetic is large (`MinWork`), judged from the bytes the scan
  *    lists and the multiply-adds per scanned float the caller already
  *    knows, so a small corpus never reads a footer. Round 15 measured
  *    the loss of spreading cheap rows (q1_agg: a 600k-row shuffle cost
  *    more than the parallelized DECIMAL agg saved); per-float work is
  *    what separates the two.
  *  - `byKeyIfNarrow`: wide-per-row text kernels over few rows
  *    (documents = 5k rows, ~MBs), where the shuffle is trivial and the
  *    kernel dominates; gated on width alone.
  *
  * Spreading hash-repartitions on the caller's id column to the
  * session parallelism, pinned explicitly: a keyed repartition without
  * a count is an AQE-coalescible exchange, and AQE folds a small
  * shuffle right back to one partition (measured).
  *
  * Output-invariant: callers aggregate per key (integer/string
  * determinism rules), merge bounded pools under a total (score, id)
  * order, sum quantized longs, or carry per-row maps, so row placement
  * never reaches the result (SpreadSpec pins it per operator).
  */
object Spread {

  /** Multiply-adds below which a vector operator keeps its scan as
    * planned: ≈100 ms of one core's arithmetic (Ivf's fused-Lloyd
    * cap), under which a shuffle costs about what it would save. The
    * catalog's largest brute-force call (500 queries over a 500 × 64-d
    * table) is ~25M; ann_scale's is ~870M. */
  val MinWork: Long = 1L << 27

  /** The threshold every `wide` call reads; specs lower it with
    * `minWork.withValue(0L) { ... }` to force the spread branch. */
  private[graft] val minWork = new scala.util.DynamicVariable[Long](MinWork)

  /** `df` hash-repartitioned on `key` to the session width when its
    * scan is narrow and its arithmetic is at least `minWork`
    * multiply-adds; None (keep `df`) otherwise. `perFloat` = the
    * multiply-adds the caller spends on each scanned float (brute
    * force: one per query). Only plain parquet scans are sized: a plan
    * with any other leaf is kept as it is. */
  def wide(df: DataFrame, key: String, perFloat: Long): Option[DataFrame] = {
    val sc = df.sparkSession.sparkContext
    if (fires(sc, parquetLeaves(df), perFloat))
      Some(df.repartition(sc.defaultParallelism, col(key)))
    else None
  }

  /** Hash-repartition `df` on `key` when its scan is under half the
    * session's cores wide; identity otherwise. */
  def byKeyIfNarrow(df: DataFrame, key: Column): DataFrame = {
    val sc = df.sparkSession.sparkContext
    if (width(df) * 2 <= sc.defaultParallelism)
      df.repartition(sc.defaultParallelism, key)
    else df
  }

  /** Partitions of `df` that can hold rows: row groups with rows for a
    * plain parquet scan of fewer files than cores, its file count for a
    * wider one, the planned partition count for any other plan (which
    * runs no job as long as the plan has no exchange). */
  private[graft] def width(df: DataFrame): Int = {
    val sc = df.sparkSession.sparkContext
    parquetLeaves(df) match {
      case Some(rels) => scanWidth(sc, rels)
      case None => df.rdd.getNumPartitions
    }
  }

  private def fires(sc: SparkContext, rels: Option[Seq[HadoopFsRelation]],
      perFloat: Long): Boolean = rels.exists { rs =>
    val floats = rs.map(_.sizeInBytes / 4L).sum
    BigInt(floats) * perFloat >= minWork.value &&
      scanWidth(sc, rs) * 2 <= sc.defaultParallelism
  }

  /** The parquet relations behind `df`'s leaves; None when any leaf is
    * something else. */
  private def parquetLeaves(df: DataFrame): Option[Seq[HadoopFsRelation]] = {
    val leaves = org.apache.spark.sql.graftbridge.Bridge.planOf(df).collectLeaves()
    val rs = leaves.collect { case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r }
      .filter(_.fileFormat.isInstanceOf[ParquetFileFormat])
    if (rs.length == leaves.length) Some(rs) else None
  }

  private def scanWidth(sc: SparkContext, rels: Seq[HadoopFsRelation]): Int = {
    val files = rels.flatMap(_.location.inputFiles).distinct
    if (files.length >= sc.defaultParallelism) files.length
    else files.map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), sc.hadoopConfiguration))
      try r.getFooter.getBlocks.asScala.count(_.getRowCount > 0) finally r.close()
    }.sum
  }
}
