package graft

import graft.functions.Vec
import graft.sources.SynthData
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The synthetic generator must be deterministic (pure function of
  * seed+id, partitioning-independent) and actually clustered: vectors
  * sharing a modality center cohere, different modalities do not
  * (data_loader.py:68-97 semantics). */
class SynthDataSpec extends AnyFunSuite with SharedSpark {

  test("deterministic across runs and partitionings; unit norms") {
    val a = SynthData.clustered(spark, 300, 16, 4, seed = 7L)
      .orderBy(col("vec_id")).collect()
    val b = SynthData.clustered(spark, 300, 16, 4, seed = 7L)
      .repartition(13).orderBy(col("vec_id")).collect()
    assert(a.sameElements(b))
    val norms = SynthData.clustered(spark, 300, 16, 4, seed = 7L)
      .select(sqrt(Vec.norm2(col("embedding"))).as("n"))
      .agg(min(col("n")), max(col("n"))).head()
    assert(math.abs(norms.getDouble(0) - 1.0) < 1e-5)
    assert(math.abs(norms.getDouble(1) - 1.0) < 1e-5)
  }

  test("per-modality cluster structure: within-cosine >> across-cosine") {
    val df = SynthData.clustered(spark, 400, 16, 4, seed = 11L).cache()
    val x = df.select(col("vec_id").as("a"), col("modality").as("ma"), col("embedding").as("va"))
    val y = df.select(col("vec_id").as("b"), col("modality").as("mb"), col("embedding").as("vb"))
    val pairs = x.join(y, col("a") < col("b"))
      .select((col("ma") === col("mb")).as("same"),
        Vec.cosineFast(col("va"), col("vb")).as("cos"))
    val stats = pairs.groupBy(col("same")).agg(avg(col("cos")).as("m"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    info(s"within=${stats(true)} across=${stats(false)}")
    assert(stats(true) > 0.8, s"within-modality cosine too low: ${stats(true)}")
    assert(stats(true) > stats(false) + 0.3)
    // every modality is populated
    assert(df.select(col("modality")).distinct().count() == 4)
  }
}
