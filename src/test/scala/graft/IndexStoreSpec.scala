package graft

import graft.operators.{Ivf, ProjIndex}
import graft.queries.VectorQs
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import java.nio.file.Files
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** The artifact store contract, through the public `ensure*` calls:
  * a build runs only on a miss, a half-written artifact (its LAST
  * part's _SUCCESS missing) is rebuilt, concurrent misses on one path
  * build once, and the on-disk layout is the one queries load. */
class IndexStoreSpec extends AnyFunSuite with SharedSpark {

  /** A fresh corpus key per test, its store subtree removed after. */
  private def withStore[T](body: String => T): T = {
    val key = Files.createTempDirectory("graftstore").toString
    try body(key)
    finally {
      FileUtils.deleteDirectory(new File(ProjIndex.tablePath(key, "")))
      FileUtils.deleteDirectory(new File(key))
    }
  }

  private def stored(key: String, rel: String): File = new File(ProjIndex.tablePath(key, rel))

  private def edges: DataFrame =
    spark.range(6).select(col("id").as("src"), ((col("id") + 1) % 6).as("dst"))

  /** (centroid-like, assignment-like) pair; `built` counts evaluations. */
  private def pair(built: AtomicInteger): (DataFrame, DataFrame) = {
    built.incrementAndGet()
    (spark.range(2).select(col("id").as("cid")),
      spark.range(6).select(col("id").as("vec_id"), (col("id") % 2).as("cid")))
  }

  test("graph save/load roundtrip preserves edges") {
    withStore { key =>
      val g = VectorQs.knnGraph(spark, sf)
      val back = ProjIndex.ensureGraph(spark, key)(g)
      assert(stored(key, "proj_graph/_SUCCESS").exists())
      assert(back.count() == g.count())
      assert(back.join(g, Seq("src", "rnk", "dst")).count() == g.count())
    }
  }

  test("persisted IVF index answers searches (cells stored with a cid column)") {
    withStore { key =>
      val emb = Tables.t(spark, sf, "embeddings")
      val (cents, cells) = ProjIndex.ensureIvf(spark, key, "t", 8, 2) {
        val c = Ivf.centroids(emb, 8, 2)
        (c, Ivf.assign(emb, c))
      }
      assert(stored(key, "ivf_t_k8_i2/centroids/_SUCCESS").exists())
      // no cid= directory: cid is a bigint column of every row
      assert(!stored(key, "ivf_t_k8_i2/cells").list().exists(_.startsWith("cid=")))
      assert(cells.schema("cid").dataType == org.apache.spark.sql.types.LongType)
      val queries = emb.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val res = Ivf.search(cells, cents, queries, nprobe = 2, k = 5)
      assert(res.count() > 0)
      assert(res.groupBy("qid").count().agg(max("count")).head().getLong(0) <= 5)
    }
  }

  test("a miss evaluates the build once; a hit never evaluates it") {
    withStore { key =>
      val built = new AtomicInteger
      def table = ProjIndex.ensureTable(spark, key, "t") { built.incrementAndGet(); edges }
      def graph = ProjIndex.ensureGraph(spark, key) { built.incrementAndGet(); edges }
      def ivf = ProjIndex.ensureIvf(spark, key, "t", 2, 1)(pair(built))
      def pq = ProjIndex.ensurePq(spark, key, 2, 4, 1)(pair(built))
      assert(table.count() == 6 && graph.count() == 6)
      assert(ivf._2.count() == 6 && pq._2.count() == 6)
      assert(built.get == 4)
      assert(table.count() == 6 && graph.count() == 6)
      assert(ivf._2.count() == 6 && pq._2.count() == 6)
      assert(built.get == 4, "a stored artifact was rebuilt")
      Seq("t", "proj_graph", "ivf_t_k2_i1/centroids", "ivf_t_k2_i1/cells",
        "pq_m2_k4_i1/cents", "pq_m2_k4_i1/codes").foreach { rel =>
        assert(stored(key, s"$rel/_SUCCESS").exists(), rel)
      }
    }
  }

  test("a missing last-part _SUCCESS (cells for IVF, codes for PQ) forces a rebuild") {
    withStore { key =>
      val built = new AtomicInteger
      def ivf = ProjIndex.ensureIvf(spark, key, "t", 2, 1)(pair(built))
      def pq = ProjIndex.ensurePq(spark, key, 2, 4, 1)(pair(built))
      ivf; pq
      assert(built.get == 2)
      assert(stored(key, "ivf_t_k2_i1/cells/_SUCCESS").delete())
      assert(ivf._2.count() == 6)
      assert(built.get == 3)
      assert(stored(key, "pq_m2_k4_i1/codes/_SUCCESS").delete())
      assert(pq._2.count() == 6)
      assert(built.get == 4)
      ivf; pq
      assert(built.get == 4)
    }
  }

  test("two threads missing the same artifact run its build once") {
    withStore { key =>
      val built = new AtomicInteger
      val start = new CountDownLatch(1)
      val pool = Executors.newFixedThreadPool(2)
      try {
        val runs = (1 to 2).map { _ =>
          pool.submit(new Callable[Long] {
            def call(): Long = {
              start.await()
              ProjIndex.ensureTable(spark, key, "t") {
                built.incrementAndGet()
                // hold the miss open so an unlocked second thread would
                // also find no _SUCCESS and build
                Thread.sleep(500)
                edges
              }.count()
            }
          })
        }
        start.countDown()
        assert(runs.map(_.get(120, TimeUnit.SECONDS)) == Seq(6L, 6L))
      } finally pool.shutdown()
      assert(built.get == 1)
    }
  }
}
