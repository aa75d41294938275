package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Dev-profiling spec (fast at sf0.001; run manually against sf0.1 to
  * localize cost): times each stage of the minhash pipeline. */
class ProfileMinhashSpec extends AnyFunSuite with SharedSpark {

  test("minhash pipeline stages complete and report times") {
    val dir = sys.env.getOrElse("PROFILE_SF", sf)
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      info(f"$label: ${(System.nanoTime() - t0) / 1e9}%.2fs")
      r
    }
    import graft.functions.TextFns._
    val docs = Tables.t(spark, dir, "documents")
    time("0 count")(docs.count())
    val sh = docs.select(col("doc_id"), wordShingles(words(col("text")), 3).as("sh"))
    time("1 shingles")(sh.count())
    val hs = sh.withColumn("hs", shingleHashes(col("sh")))
    time("2 md5-hashes")(hs.select(col("doc_id"), col("hs")).count())
    val sigCols = col("doc_id") +: (0 until 9).map(j => minhash(col("hs"), j).as(s"s$j"))
    val sigs = hs.select(sigCols: _*)
    time("3 signatures")(sigs.count())
    import graft.functions.TextFns.{minhash, shingleHashes, words => twords}
    val ww = twords(col("text"))
    val rawSh = transform(sequence(lit(1), greatest(size(ww) - 2, lit(0))),
      i => concat_ws(" ", element_at(ww, i), element_at(ww, i + 1), element_at(ww, i + 2)))
    val d2 = Tables.t(spark, dir, "documents")
    time("m1 words only")(d2.agg(sum(size(ww))).collect())
    time("m2 shingle strings")(d2.agg(sum(size(rawSh))).collect())
    time("m3 md5 hash array")(d2.select(shingleHashes(rawSh).as("hs"))
      .agg(sum(element_at(col("hs"), 1))).collect())
    time("m4 one minhash")(d2.select(shingleHashes(rawSh).as("hs"))
      .select(minhash(col("hs"), 0).as("s0")).agg(sum(col("s0"))).collect())
    val hsC = d2.select(col("doc_id"), shingleHashes(rawSh).as("hs")).cache()
    time("m5 hs cached")(hsC.agg(sum(element_at(col("hs"), 1))).collect())
    time("m6 9 minhash over cached hs")(
      hsC.select((0 until 9).map(j => minhash(col("hs"), j).as(s"s$j")): _*)
        .agg(sum(col("s0") + col("s8"))).collect())
    spark.catalog.clearCache()
    val sigsC = graft.queries.DedupQs.sigTable(spark, dir).cache()
    time("3b sigs cache materialize")(sigsC.agg(sum(col("s0"))).collect())
    val bands = graft.queries.DedupQs.bandsOf(sigsC)
    val candRaw = bands.as("x").join(bands.as("y"),
      col("x.band_idx") === col("y.band_idx") &&
        col("x.bkey") === col("y.bkey") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
    val nRaw = time("3d1 candidates pre-distinct")(candRaw.count())
    info(s"   raw candidate pairs: $nRaw")
    info("join plan: " + candRaw.queryExecution.executedPlan.toString().linesIterator
      .filter(l => l.contains("Join") || l.contains("Exchange")).mkString(" | "))
    val cand = candRaw.distinct()
    val nCand = time("3d2 candidates distinct")(cand.count())
    info(s"   distinct candidate pairs: $nCand")
    spark.catalog.clearCache()
    time("4 full dedup_minhash")(graft.queries.DedupQs.dedupMinhash.fn(spark, dir).count())
    spark.catalog.clearCache()
    time("5 full dedup_minhash_groups")(
      graft.queries.DedupQs.dedupMinhashGroups.fn(spark, dir).count())
    spark.catalog.clearCache()
  }
}
