package graft

import graft.operators.ProjIndex
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import java.nio.file.Files

/** Loads that run no Spark job: a table read before is read with its
  * memoized schema until its file changes, and an artifact's loaded
  * frames are reused until a rebuild rewrites its _SUCCESS marker. */
class ArtifactLoadSpec extends AnyFunSuite with SharedSpark {

  private def withDir[T](body: String => T): T = {
    val d = Files.createTempDirectory("graftload").toString
    try body(d)
    finally {
      FileUtils.deleteDirectory(new File(ProjIndex.tablePath(d, "")))
      FileUtils.deleteDirectory(new File(d))
    }
  }

  test("Tables.t: a second load of an unchanged table runs no job") {
    withDir { d =>
      spark.range(5).select(col("id").as("vec_id")).write.parquet(s"$d/t.parquet")
      val first = Tables.t(spark, d, "t").schema
      val (again, jobs) = jobsOf("tables-warm")(Tables.t(spark, d, "t"))
      assert(jobs == 0, s"a warm load ran $jobs jobs")
      assert(again.schema == first && again.count() == 5)
      // a catalog table whose events.ts type depends on the session's
      // nanosAsLong setting reads as Spark's own inference reads it
      val inferred = spark.read.parquet(s"$sf/events.parquet")
      Tables.t(spark, sf, "events")
      val (ev, evJobs) = jobsOf("tables-events")(Tables.t(spark, sf, "events"))
      assert(evJobs == 0 && ev.schema == inferred.schema)
      def firstRows(df: DataFrame) = df.orderBy(df.columns.map(col): _*).limit(20).collect().toSeq
      assert(firstRows(ev) == firstRows(inferred))
    }
  }

  test("Tables.t: a table rewritten in place with another schema is inferred again") {
    withDir { d =>
      spark.range(5).select(col("id").as("vec_id")).write.parquet(s"$d/t.parquet")
      assert(Tables.t(spark, d, "t").columns.toSeq == Seq("vec_id"))
      spark.range(3).select(col("id").as("vec_id"), lit("x").as("tag"))
        .write.mode("overwrite").parquet(s"$d/t.parquet")
      val t = Tables.t(spark, d, "t")
      assert(t.columns.toSeq == Seq("vec_id", "tag"))
      assert(t.collect().map(_.getString(1)).toSeq == Seq("x", "x", "x"))
    }
  }

  test("corpus counts follow an embeddings table rewritten in place") {
    withDir { d =>
      def write(n: Long, dim: Int): Unit =
        spark.range(n).select(col("id").as("vec_id"),
          array_repeat(lit(1.0f), dim).as("embedding"))
          .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
      def facts = (Tables.baseCount(spark, d), Tables.embCount(spark, d), Tables.embDim(spark, d))
      write(100, 4)
      assert(facts == ((98L, 100L, 4)))
      write(250, 8)
      // vec_id % 50 == 0 is the query split: 0, 50, ..., 200
      assert(facts == ((245L, 250L, 8)))
    }
  }

  test("Tables.events: TIMESTAMP(NANOS) reads as a long and becomes microseconds") {
    withDir { d =>
      import org.apache.parquet.example.data.simple.SimpleGroupFactory
      import org.apache.parquet.hadoop.example.ExampleParquetWriter
      val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
        "message events { required int64 user_id; required int64 ts (TIMESTAMP(NANOS,false)); }")
      // nonzero sub-microsecond digits: a double or a rounding path shows
      val ns = Seq(1700000000123456789L, 1700000000999999999L, 1L, 999L)
      val w = ExampleParquetWriter.builder(
        new org.apache.hadoop.fs.Path(s"$d/events.parquet/part-0.parquet"))
        .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
      val groups = new SimpleGroupFactory(schema)
      try ns.zipWithIndex.foreach { case (t, i) =>
        w.write(groups.newGroup().append("user_id", i.toLong).append("ts", t))
      } finally w.close()
      assert(Tables.t(spark, d, "events").schema("ts").dataType ==
        org.apache.spark.sql.types.LongType)
      val ev = Tables.events(spark, d)
      assert(ev.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
      val got = ev.orderBy(col("user_id")).select(unix_micros(col("ts"))).collect().map(_.getLong(0))
      assert(got.toSeq == ns.map(_ / 1000))
    }
  }

  /** (centroids, cells) whose cells all carry `tag`. */
  private def ivf(tag: String): (DataFrame, DataFrame) =
    (spark.range(40).select(col("id").as("cid")),
      spark.range(120).select(col("id").as("vec_id"), (col("id") % 40).as("cid"), lit(tag).as("tag")))

  test("ProjIndex: a warm IVF load runs no job; a rebuild replaces the loaded frames") {
    withDir { d =>
      // 40 cells, stored as rows with a cid column (no directories)
      val (_, cold) = ProjIndex.ensureIvf(spark, d, "t", 40, 1)(ivf("a"))
      assert(cold.select("tag").distinct().collect().map(_.getString(0)).toSeq == Seq("a"))
      val ((cents, cells), jobs) = jobsOf("ivf-warm")(ProjIndex.ensureIvf(spark, d, "t", 40, 1)(ivf("b")))
      assert(jobs == 0, s"a warm load ran $jobs jobs")
      assert(cents.count() == 40 && cells.count() == 120)
      assert(new File(ProjIndex.tablePath(d, "ivf_t_k40_i1/cells/_SUCCESS")).delete())
      val (_, rebuilt) = ProjIndex.ensureIvf(spark, d, "t", 40, 1)(ivf("b"))
      assert(rebuilt.select("tag").distinct().collect().map(_.getString(0)).toSeq == Seq("b"))
      assert(rebuilt.count() == 120)
    }
  }

  test("ProjIndex: the load after a cold IVF build runs no listing job") {
    withDir { d =>
      val sc = spark.sparkContext
      val ((_, cells), _) = jobsOf("ivf-cold")(ProjIndex.ensureIvf(spark, d, "t", 40, 1)(ivf("a")))
      val dir = new File(ProjIndex.tablePath(d, "ivf_t_k40_i1/cells"))
      assert(!dir.list().exists(_.startsWith("cid=")))
      val files = FileUtils.listFiles(dir, Array("parquet"), false).size
      assert(files <= ivf("a")._2.rdd.getNumPartitions)
      // Spark lists a tree of more than 32 directories with a job of
      // one task per directory; the cold build's own jobs (the writes,
      // one task per assigned partition, and the schema reads) stay
      // within the cells' file count
      val tasks = sc.statusTracker.getJobIdsForGroup("ivf-cold").toSeq.map { j =>
        sc.statusTracker.getJobInfo(j).toSeq.flatMap(_.stageIds)
          .flatMap(sc.statusTracker.getStageInfo).map(_.numTasks).sum
      }
      assert(tasks.nonEmpty && tasks.forall(_ <= files), s"job tasks $tasks for $files cell files")
      assert(cells.count() == 120)
    }
  }
}
