package graft

import graft.queries.DedupQs
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A degenerate corpus (every doc hashing to the same band keys) must
  * not make the MinHash candidate join quadratic: the per-(band, key)
  * ceiling bounds each bucket, so candidates are C(cap,2) per band, not
  * C(N,2). */
class BandCapSpec extends AnyFunSuite with SharedSpark {

  test("hot band key candidates bounded by the per-bucket cap") {
    import spark.implicits._
    // 30 docs with IDENTICAL MinHash signatures = one hot bucket per band
    val sigs = (1L to 30L).map(i => (i, 7L, 8L, 9L, 7L, 8L, 9L, 7L, 8L, 9L))
      .toDF("doc_id", "s0", "s1", "s2", "s3", "s4", "s5", "s6", "s7", "s8")

    def candCount(cap: Int): Long = {
      val bands = DedupQs.bandsOf(sigs, cap)
      bands.as("x")
        .join(bands.as("y"),
          col("x.band_idx") === col("y.band_idx") &&
          col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id"), col("y.doc_id")).distinct().count()
    }

    assert(candCount(5) == 10, "cap=5 must keep C(5,2)=10 distinct pairs")
    assert(candCount(30) == 435, "uncapped keeps C(30,2)=435")
    // default cap is a no-op on the real sf0.001 corpus: dedup_minhash
    // results unchanged (driver-green invariant)
    val pairs = DedupQs.dedupMinhash.fn(spark, sf)
    assert(pairs.count() > 0)
  }
}
