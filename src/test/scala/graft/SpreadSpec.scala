package graft

import graft.operators.{BruteForce, Ivf, Pq, ProjIndex, Spread}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import java.nio.file.Files

/** The scan-width rule (Spread) and the vector operators behind it:
  * width counts row groups, not planned splits; the catalog's corpus
  * takes the identity branch without running a job; every operator
  * answers bit-identically whether its input is one row group (spread
  * by the forced gate) or eight files (already wide); the distributed
  * Lloyd loop leaves no cached RDD behind; and clustered IVF cells are
  * written one file per cell. */
class SpreadSpec extends AnyFunSuite with SharedSpark {

  private def withDir[T](body: String => T): T = {
    val d = Files.createTempDirectory("graftspread").toString
    try body(d) finally FileUtils.deleteDirectory(new File(d))
  }

  /** 1,200 rows of 16-d vectors with repeated vectors (tied scores and
    * tied argmins), written as ONE file of one row group (`one`) and as
    * eight files (`eight`). */
  private def corpus(d: String): (DataFrame, DataFrame) = {
    import spark.implicits._
    val rows = (0 until 1200).map { i =>
      val src = if (i % 7 == 0) i / 7 else i // every 7th row repeats another's vector
      val r = new scala.util.Random(src)
      (i.toLong, Array.fill(16)(r.nextGaussian().toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    df.coalesce(1).write.parquet(s"$d/one")
    df.repartition(8, col("vec_id")).write.parquet(s"$d/eight")
    (spark.read.parquet(s"$d/one"), spark.read.parquet(s"$d/eight"))
  }

  private def forced[T](body: => T): T = Spread.minWork.withValue(0L)(body)

  private def sides(emb: DataFrame): (DataFrame, DataFrame) =
    (emb.filter(col("vec_id") % 50 =!= 0).select(col("vec_id").as("bid"), col("embedding").as("bv")),
      emb.filter(col("vec_id") % 50 === 0).select(col("vec_id").as("qid"), col("embedding").as("qv")))

  private def rowsOf(df: DataFrame, order: String*): Seq[Seq[Any]] =
    df.orderBy(order.map(col): _*).collect().map(_.toSeq.map {
      case s: scala.collection.Seq[_] => s.toList
      case x => x
    }).toSeq

  test("byKeyIfNarrow spreads a one-row-group file however many splits it plans") {
    withDir { d =>
      corpus(d)
      val key = "spark.sql.files.maxPartitionBytes"
      val saved = spark.conf.getOption(key)
      val cores = spark.sparkContext.defaultParallelism
      spark.conf.set(key, (new File(d, "one").listFiles().filter(_.getName.endsWith(".parquet"))
        .map(_.length).sum / (2 * cores)).toString)
      try {
        val one = spark.read.parquet(s"$d/one")
        assert(one.rdd.getNumPartitions >= cores, "the file must plan at least `cores` splits")
        val out = Spread.byKeyIfNarrow(one, col("vec_id"))
        assert(out ne one, "a one-row-group scan must be spread")
        assert(out.rdd.getNumPartitions == cores)
      } finally saved match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("catalog corpus: the rule keeps the plan and runs no job") {
    val emb = Tables.t(spark, sf, "embeddings")
    val (base, _) = sides(emb)
    val n = emb.count()
    val (decisions, jobs) = jobsOf("spread-catalog") {
      // the largest fan-outs the catalog asks for: every row as a
      // query (self-kNN), PQ's codebook width, IVF's cell floor
      Seq(Spread.wide(base, "bid", n), Spread.wide(emb, "vec_id", 2000L),
        Spread.wide(emb, "vec_id", Ivf.MinCells.toLong * 4))
    }
    assert(decisions.forall(_.isEmpty))
    assert(jobs == 0, s"deciding ran $jobs jobs")
  }

  test("brute force (topk, every metric) is placement-invariant") {
    withDir { d =>
      val (one, eight) = corpus(d)
      forced {
        val (b1, _) = sides(one)
        assert(Spread.wide(b1, "bid", 1L).isDefined)
        assert(Spread.wide(sides(eight)._1, "bid", 1L).isEmpty, "eight files are already wide")
        for (metric <- Seq("l2", "cosine", "ip")) {
          def run(emb: DataFrame) = {
            val (b, q) = sides(emb)
            rowsOf(BruteForce.topk(b, q, metric, 7), "qid", "rnk")
          }
          val t1 = run(one)
          assert(t1.nonEmpty && t1 == run(eight), s"topk $metric")
        }
      }
    }
  }

  test("Ivf.sizedBuild, both Lloyd branches and Pq.encode are placement-invariant") {
    withDir { d =>
      val (one, eight) = corpus(d)
      forced {
        def build(emb: DataFrame) = {
          val (c, a, k) = Ivf.sizedBuild(emb, 3)
          (rowsOf(c, "cid"), rowsOf(a.select(col("vec_id"), col("cid")), "vec_id"), k)
        }
        val b1 = build(one)
        assert(b1._2.length == 1200 && b1 == build(eight), "sizedBuild")
        // no hint: the distributed branch; the hint: the fused one
        def lloyd(emb: DataFrame, hint: Option[(Long, Int)]) =
          rowsOf(Ivf.centroids(emb, 12, 3, hint), "cid")
        val df1 = lloyd(one, None)
        assert(df1 == lloyd(eight, None), "distributed Lloyd")
        assert(df1 == lloyd(one, Some((1200L, 16))), "fused vs distributed Lloyd")
        val cents = Pq.train(one, 4, 16, 2).localCheckpoint()
        assert(rowsOf(Pq.encode(one, cents, 4), "vec_id") ==
          rowsOf(Pq.encode(eight, cents, 4), "vec_id"), "Pq.encode")
      }
    }
  }

  test("the distributed Lloyd loop leaves no persisted RDD behind") {
    val emb = Tables.t(spark, sf, "embeddings")
    val sc = spark.sparkContext
    // ids, not a count: the ContextCleaner may unpersist an earlier
    // suite's RDD meanwhile, which a size comparison would misread
    val before = sc.getPersistentRDDs.keySet
    assert(Ivf.centroids(emb, 8, 2).count() > 0)
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("IVF cells: no more files than assigned partitions holding rows") {
    withDir { d =>
      val (one, _) = corpus(d)
      try forced {
        var assigned: DataFrame = null
        ProjIndex.ensureIvf(spark, d, "spread", 16, 2) {
          val (c, a, _) = Ivf.sizedBuild(one, 2)
          assert(Spread.width(a) > 1, "the build must assign over the spread copy")
          assigned = a
          (c, a)
        }
        val dir = new File(ProjIndex.tablePath(d, "ivf_spread_k16_i2/cells"))
        val files = FileUtils.listFiles(dir, Array("parquet"), true).size
        val holding = assigned.rdd.mapPartitions(it => Iterator(if (it.hasNext) 1 else 0))
          .sum().toInt
        assert(files <= holding, s"$files cell files for $holding assigned partitions with rows")
      } finally FileUtils.deleteDirectory(new File(ProjIndex.tablePath(d, "")))
    }
  }
}
