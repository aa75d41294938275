package graft

import graft.functions.Vec
import graft.operators.{BruteForce, Ivf, Pq, Pool, QueryScan, TopK}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{BroadcastBlocks, DriverConf}
import org.scalatest.funsuite.AnyFunSuite

import scala.reflect.ClassTag
import scala.reflect.runtime.universe.TypeTag

/** The collected-query scan (QueryScan) behind brute force, IVF and PQ
  * search: rows bit-identical at 1 and 8 input partitions and to the
  * join + `TopK.perGroup` forms it replaced (kept here as the
  * reference), on the edges a partition-local pool can get wrong, also
  * when the merge is too large for the driver; no search leaves a
  * broadcast behind; and a driver-merged result declares its one
  * partition, so a sort or a per-qid window above it plans no exchange. */
class QueryScanSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  /** `chunks` as one partition each (an empty chunk is an empty
    * partition), and the same rows as a single partition. */
  private def placements[T <: Product : TypeTag : ClassTag](chunks: Seq[Seq[T]], names: String*)
      : Seq[(String, DataFrame)] = {
    val parts = spark.sparkContext.parallelize(chunks, chunks.length).flatMap(identity)
      .toDF(names: _*)
    assert(parts.rdd.getNumPartitions == chunks.length)
    Seq("one partition" -> parts.coalesce(1), s"${chunks.length} partitions" -> parts)
  }

  /** Rows ordered by (qid, rnk), doubles as raw bits so NaN compares. */
  private def bits(df: DataFrame): Seq[Seq[Any]] =
    df.orderBy(col("qid"), col("rnk")).collect().toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case x => x
    })

  private val vecs: Seq[(Long, Array[Float])] = (0L until 40L).map { i =>
    val r = new scala.util.Random(i / 2) // pairs of equal vectors: tied scores
    i -> (if (i == 0) Array.fill(4)(0f) else Array.fill(4)(r.nextGaussian().toFloat))
  }

  /** 40 base rows in 8 chunks, one of them empty; base id 3 sits in two
    * partitions (same vector); row 0 is the zero vector, so its cosine
    * is NaN. */
  private def baseChunks: Seq[Seq[(Long, Array[Float])]] = {
    val rows = vecs ++ Seq(vecs(3))
    (0 until 8).map(c => rows.zipWithIndex.filter { case (_, i) => c != 6 && i % 7 == c }.map(_._1))
  }

  private def base: DataFrame = placements(baseChunks, "bid", "bv").head._2

  /** A zero-vector query (NaN cosine against every row) and queries
    * whose ids are base ids, for excludeSelf. */
  private def queries: DataFrame =
    (Seq((100L, Array.fill(4)(0f))) ++ Seq(1L, 3L, 17L, 30L).map(i => i -> vecs(i.toInt)._2))
      .toDF("qid", "qv")

  private def bruteJoin(base: DataFrame, q: DataFrame, metric: String, k: Int,
      excludeSelf: Boolean): DataFrame = {
    val score = Map("l2" -> Vec.l2Fast _, "cosine" -> Vec.cosineFast _, "ip" -> Vec.dotFast _)(metric)
    val scored = base.crossJoin(q).filter(!lit(excludeSelf) || col("qid") =!= col("bid"))
      .select(col("qid"), col("bid"), score(col("qv"), col("bv")).as("score"))
    TopK.perGroup(scored, "qid", "bid", "score", k, asc = metric == "l2")
  }

  test("brute force: 1 and 8 partitions, repeated ids, NaN scores, short pools == perGroup") {
    val small = Seq(Seq(vecs(1), vecs(5), vecs(9)), Nil)
    val cases = Seq((baseChunks, 7), (small, 5)) // 3 rows < k = 5
    for ((chunks, k) <- cases; metric <- Seq("l2", "cosine", "ip"); excludeSelf <- Seq(false, true)) {
      val placed = placements(chunks, "bid", "bv")
      val ref = bits(bruteJoin(placed.head._2, queries, metric, k, excludeSelf))
      assert(ref.nonEmpty)
      for ((where, b) <- placed)
        assert(bits(BruteForce.topk(b, queries, metric, k, excludeSelf)) == ref,
          s"$metric k=$k excludeSelf=$excludeSelf, $where")
    }
    // the zero query ranks NaN last in every pool, and the short base
    // fills fewer than k ranks
    val nan = BruteForce.topk(base, queries, "cosine", 7).filter(col("qid") === 100L).collect()
    assert(nan.length == 7 && nan.forall(_.getDouble(3).isNaN))
    assert(BruteForce.topk(placements(small, "bid", "bv").head._2, queries, "l2", 5)
      .groupBy("qid").count().collect().forall(_.getLong(1) == 3L))
  }

  /** The join form of Ivf.search this operator replaced. */
  private def ivfJoin(base: DataFrame, cents: DataFrame, q: DataFrame, nprobe: Int,
      k: Int): DataFrame = {
    val probed = TopK.perGroup(
      q.crossJoin(broadcast(cents))
        .select(col("qid").as("g"), col("cid"), Vec.l2sqFast(col("qv"), col("cv")).as("d2")),
      "g", "cid", "d2", nprobe, asc = true)
      .select(col("g").as("qid"), col("cid"))
    val cand = base.join(probed.join(q, Seq("qid")), Seq("cid"))
      .select(col("qid"), col("vec_id").as("bid"), Vec.l2Fast(col("qv"), col("embedding")).as("dist"))
    TopK.perGroup(cand, "qid", "bid", "dist", k, asc = true)
  }

  test("Ivf.search: empty probed cells and tied centroids == the join form") {
    // cells 1 and 2 share a centroid (tied distances, the lower cid wins);
    // cell 4 holds no row and is query 10's nearest
    val cents = Seq(0L -> Array(0.0, 0.0), 1L -> Array(5.0, 5.0), 2L -> Array(5.0, 5.0),
      3L -> Array(-5.0, 5.0), 4L -> Array(20.0, 20.0)).toDF("cid", "cv")
    val rows = (0L until 24L).map { i =>
      val c = (i % 4).toInt
      val (x, y) = Seq((0f, 0f), (5f, 5f), (5f, 5f), (-5f, 5f))(c)
      (i, Array(x + (i % 3).toFloat * 0.25f, y - (i % 5).toFloat * 0.25f), c)
    }
    val placed = placements((0 until 8).map(c => rows.filter(r => c != 3 && r._1 % 7 == c)),
      "vec_id", "embedding", "cid")
    val q = Seq(10L -> Array(19f, 21f), 11L -> Array(5f, 5f), 12L -> Array(0.5f, -0.5f),
      13L -> Array(-4f, 4f)).toDF("qid", "qv")
    for (nprobe <- Seq(1, 2, 3); k <- Seq(3, 8)) {
      val ref = bits(ivfJoin(placed.head._2, cents, q, nprobe, k))
      for ((where, b) <- placed)
        assert(bits(Ivf.search(b, cents, q, nprobe, k)) == ref, s"nprobe=$nprobe k=$k, $where")
    }
    val one = Ivf.search(placed.head._2, cents, q, 1, 8)
    assert(one.filter(col("qid") === 10L).isEmpty, "query 10 probes only the empty cell")
    val tied = one.filter(col("qid") === 11L).select("bid").as[Long].collect()
    assert(tied.nonEmpty && tied.forall(_ % 4 == 1), "the tie goes to the lower cid")
  }

  test("Pq.searchAdc: 1 and 8 partitions == a driver-side ADC ranking") {
    val m = 2; val ksub = 4
    val emb = vecs.toDF("vec_id", "embedding")
    val cents = Pq.train(emb, m, ksub, 2)
    // codes in 8 chunks, one of them empty (its ids leave the corpus)
    val chunks = Pq.encode(emb, cents, m).as[(Long, Array[Int])].collect().toSeq
      .groupBy(_._1 % 8).toSeq.sortBy(_._1).map { case (c, rows) => if (c == 2) Nil else rows }
    val cb = cents.as[(Int, Long, Array[Double])].collect()
      .map { case (s, c, cv) => (s, c.toInt) -> cv }.toMap
    val qs = queries.as[(Long, Array[Float])].collect()
    val k = 6
    val ref = qs.sortBy(_._1).toSeq.flatMap { case (qid, qv) =>
      chunks.flatten.map { case (id, cs) =>
        var acc = 0.0
        for (s <- 0 until m) {
          val cv = cb((s, cs(s)))
          var d2 = 0.0
          for (i <- cv.indices) { val d = qv(s * cv.length + i).toDouble - cv(i); d2 += d * d }
          acc += d2
        }
        (acc, id)
      }.distinct.sortBy(identity)(Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long))
        .take(k).zipWithIndex.map { case ((d, id), r) =>
        Seq(qid, r + 1, id, java.lang.Double.doubleToRawLongBits(d))
      }
    }
    for ((where, c) <- placements(chunks, "vec_id", "codes"))
      assert(bits(Pq.searchAdc(c, cents, queries, m, ksub, k)) == ref, where)
  }

  /** Each search over `q`, all merged on the driver. */
  private def calls(q: DataFrame): Seq[(String, () => DataFrame)] = {
    val emb = vecs.map { case (i, v) => (i, v, (i % 2).toInt) }.toDF("vec_id", "embedding", "cid")
    val cents = Seq(0L -> Array(0.0, 0.0, 0.0, 0.0), 1L -> Array(1.0, 1.0, 1.0, 1.0)).toDF("cid", "cv")
    val pqCents = Pq.train(emb, 2, 4, 2)
    val codes = Pq.encode(emb, pqCents, 2)
    Seq(
      "BruteForce.topk" -> (() => BruteForce.topk(base, q, "l2", 5)),
      "Ivf.search" -> (() => Ivf.search(emb, cents, q, 1, 5)),
      "Pq.searchAdc" -> (() => Pq.searchAdc(codes, pqCents, q, 2, 4, 5)))
  }

  test("no search leaves a broadcast behind") {
    for ((name, call) <- calls(queries)) {
      val before = BroadcastBlocks.payloads()
      assert(call().collect().nonEmpty)
      assert(leftSince(before).isEmpty, s"$name left broadcasts")
    }
  }

  private object Plans extends AdaptiveSparkPlanHelper

  private def shuffles(df: DataFrame): Seq[ShuffleExchangeExec] =
    Plans.collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }

  test("a driver-merged search is one declared partition: sort and per-qid window plan no exchange") {
    val byRank = Window.partitionBy(col("qid")).orderBy(col("rnk"))
    for ((q, nq) <- Seq(queries -> 5, queries.limit(0) -> 0); (name, call) <- calls(q)) {
      val df = call()
      assert(df.rdd.getNumPartitions == 1, s"$name over $nq queries")
      // sized like the local relation it replaced, so a join still broadcasts it
      assert(df.queryExecution.optimizedPlan.stats.rowCount.contains(BigInt(5 * nq)), name)
      val sorted = df.orderBy(col("qid"), col("rnk"))
      val ranked = df.withColumn("rn", row_number().over(byRank))
      assert(shuffles(sorted).isEmpty && shuffles(ranked).isEmpty, s"$name over $nq queries")
      assert(sorted.collect().length == 5 * nq && ranked.collect().length == 5 * nq, s"$name over $nq queries")
      assert(shuffles(sorted).isEmpty && shuffles(ranked).isEmpty, s"$name over $nq queries, run")
    }
  }

  /** The payload broadcasts made since `before` that are still held. A
    * destroy is asynchronous: give it a moment, a leak never clears. */
  private def leftSince(before: Set[Long]): Set[Long] = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var left = BroadcastBlocks.payloads() -- before
    while (left.nonEmpty && System.nanoTime() < deadline) {
      Thread.sleep(100)
      left = BroadcastBlocks.payloads() -- before
    }
    left
  }

  test("a merge too large for spark.driver.maxResultSize runs as a shuffle, same rows") {
    val sc = spark.sparkContext
    // 3000 queries × k = 40 over 8 partitions: each partition's pools
    // are ~2 MB, so a driver merge aborts under a 1 MB cap
    val (nq, k) = (3000, 40)
    val big = (0L until nq.toLong).map { i =>
      val r = new scala.util.Random(1000 + i)
      i -> Array.fill(4)(r.nextGaussian().toFloat)
    }.toDF("qid", "qv")
    val b = placements(baseChunks, "bid", "bv").last._2
    val ref = bits(bruteJoin(b, big, "l2", k, excludeSelf = false))
    assert(QueryScan.onDriver(sc, 8, nq, k), "the default 1g cap merges these pools on the driver")
    val before = BroadcastBlocks.payloads()
    val viaTopk = DriverConf.withValue(sc, "spark.driver.maxResultSize", "1m") {
      // the cap is live: eight 300 kB task results abort a collect
      intercept[org.apache.spark.SparkException](
        sc.parallelize(0 until 8, 8).map(_ => new Array[Byte](300000)).collect())
      assert(!QueryScan.onDriver(sc, 8, nq, k))
      BruteForce.topk(b, big, "l2", k)
    }
    assert(viaTopk.rdd.getNumPartitions == sc.defaultParallelism, "topk's rows stay spread")
    assert(bits(viaTopk) == ref)
    assert(leftSince(before).isEmpty, "the shuffle merge left broadcasts")
  }

  test("a pool's merge keeps the best k of the union, whatever the order") {
    val cands = Seq((1.0, 7L), (0.5, 3L), (0.5, 2L), (Double.NaN, 1L), (2.0, 9L), (0.5, 3L))
    def fill(xs: Seq[(Double, Long)]) = { val p = Pool(3); xs.foreach(x => p.insert(x._1, x._2, asc = true)); p }
    val (a, b) = cands.splitAt(3)
    val merged = fill(a).merge(fill(b), asc = true)
    assert(merged.ids.take(merged.size).toSeq == Seq(2L, 3L, 7L))
    assert(fill(b).merge(fill(a), asc = true).ids.toSeq == merged.ids.toSeq)
  }
}
