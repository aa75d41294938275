package graft

import graft.operators.{Components, ProjIndex}
import graft.queries.DedupQs
import org.apache.commons.io.FileUtils
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import java.nio.file.Files
import scala.util.Random

/** Components.minLabels on both branches against a plain BFS, and the
  * job and read counts of the MinHash duplicate groups built on it. */
class ComponentsSpec extends AnyFunSuite with SharedSpark {

  private val pairSchema = StructType(Seq(
    StructField("a", LongType, nullable = true), StructField("b", LongType, nullable = true)))
  private val labelSchema = StructType(Seq(
    StructField("node", LongType, nullable = true), StructField("label", LongType, nullable = true)))

  /** Nullable columns, as the persisted pair artifact reads. */
  private def pairsDf(ps: Seq[(Long, Long)]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(ps.map { case (a, b) => Row(a, b) }, 3),
      pairSchema)

  /** Smallest id reachable from each node, by BFS. */
  private def bfs(ps: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = ps.flatMap { case (a, b) => Seq(a -> b, b -> a) }.groupMap(_._1)(_._2)
    adj.keys.foldLeft(Map.empty[Long, Long]) { (lab, start) =>
      if (lab.contains(start)) lab
      else {
        val seen = scala.collection.mutable.Set(start)
        var frontier = List(start)
        while (frontier.nonEmpty) {
          frontier = frontier.flatMap(adj(_)).filter(seen.add)
        }
        val m = seen.min
        lab ++ seen.map(_ -> m)
      }
    }
  }

  private def labelsOf(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  /** Both branches equal the BFS labels, with the nullable schema;
    * returns the DataFrame branch's round count. */
  private def checkBoth(ps: Seq[(Long, Long)]): Int = {
    val want = bfs(ps).toSeq.sorted
    val onDriver = Components.minLabels(pairsDf(ps))
    val (dfBranch, rounds) = Components.rounds(pairsDf(ps))
    for (got <- Seq(onDriver, dfBranch)) {
      assert(got.schema == labelSchema)
      assert(labelsOf(got) == want)
    }
    rounds
  }

  private def chain(n: Int, rnd: Option[Random]): Seq[(Long, Long)] = {
    val ids = (0 until n).map(i => 1000L + 7L * i)
    val order = rnd.fold(ids)(_.shuffle(ids))
    order.sliding(2).map(w => (w(0), w(1))).toSeq
  }

  test("a 200-long chain labels every node with its minimum on both branches") {
    checkBoth(chain(200, None))
  }

  test("a 1,000-long chain with shuffled ids converges in at most 2·ceil(log2 1000) rounds") {
    val rounds = checkBoth(chain(1000, Some(new Random(7))))
    assert(rounds <= 20, s"$rounds alternating rounds")
  }

  test("random forests with duplicate, reversed and self pairs") {
    val rnd = new Random(11)
    (1 to 3).foreach { t =>
      val ids = rnd.shuffle((0 until 300).map(_ => rnd.nextInt(1 << 30).toLong).distinct)
      // each node joins an earlier one or starts a tree
      val edges = ids.indices.drop(1).flatMap { i =>
        if (rnd.nextInt(5) == 0) None else Some((ids(i), ids(rnd.nextInt(i))))
      }
      val extra = edges.take(30).map(_.swap) ++ edges.takeRight(20) ++ Seq((ids(0), ids(0)))
      checkBoth(rnd.shuffle(edges ++ extra))
    }
  }

  test("one lone pair") {
    checkBoth(Seq((42L, 17L)))
  }

  test("empty input gives zero rows and the nullable schema on both branches") {
    checkBoth(Seq.empty)
  }

  test("warm dedup_minhash_groups runs at most 2 jobs and keeps its schema") {
    def run(): DataFrame = DedupQs.dedupMinhashGroups.fn(spark, sf)
    run().write.format("noop").mode("overwrite").save()
    val (df, jobs) = jobsOf("groups-warm") {
      val df = run()
      df.write.format("noop").mode("overwrite").save()
      df
    }
    assert(jobs <= 2, s"warm dedup_minhash_groups ran $jobs jobs")
    assert(df.schema == StructType(Seq(
      StructField("survivor_id", LongType, nullable = true),
      StructField("group_size", LongType, nullable = false),
      StructField("member", LongType, nullable = true))))
  }

  test("a cold minhashPairs build reads the documents at most twice") {
    val d = Files.createTempDirectory("graftcc").toString
    try {
      FileUtils.copyFile(new File(s"$sf/documents.parquet"), new File(s"$d/documents.parquet"))
      val nDocs = Tables.t(spark, d, "documents").count()
      val sc = spark.sparkContext
      val group = "minhash-cold"
      val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      val ran = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      val read = new java.util.concurrent.atomic.AtomicLong()
      // input records of the stages whose lineage holds a file scan (a
      // task that reads a cached or checkpointed block counts its rows
      // as input records too, so stages without one are left out), and
      // how many such stages ran: a lazily cached signature table read
      // by both join sides put its scan in every stage above it
      val l = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
            e.stageInfos.filter(_.rddInfos.exists(_.name == "FileScanRDD"))
              .foreach(si => stages.add(si.stageId))
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
          if (stages.contains(e.stageId) && e.taskMetrics != null) {
            ran.add(e.stageId)
            read.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
          }
      }
      sc.addSparkListener(l)
      try {
        jobsOf(group)(DedupQs.minhashPairs(spark, d))
        ListenerDrain(sc)
      } finally sc.removeSparkListener(l)
      assert(read.get > 0 && read.get <= 2 * nDocs,
        s"the cold build read ${read.get} input records over $nDocs documents")
      assert(ran.size <= 2, s"${ran.size} stages ran a documents scan")
    } finally {
      spark.catalog.clearCache()
      FileUtils.deleteDirectory(new File(ProjIndex.tablePath(d, "")))
      FileUtils.deleteDirectory(new File(d))
    }
  }
}
