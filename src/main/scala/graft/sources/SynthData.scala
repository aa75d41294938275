package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic modality-clustered synthetic vectors — the Spark
  * re-expression of the reference's generators
  * (hnsw_optimization/data_loader.py:68-97 _generate_synthetic_data:
  * per-modality Gaussian centers scaled 2.0, per-vector noise 0.5,
  * unit-normalized; roargraph_python.py:437-449 create_sample_data).
  *
  * All randomness is a pure function of (seed, row id, dim) through a
  * SplitMix64 stream + Box-Muller, so ANY row regenerates independently
  * of partitioning — `spark.range(n)` fans the id space across the
  * cluster and each task synthesizes its slice with zero coordination
  * or shuffled RNG state. That is what makes this a 100 TB-scale test
  * source: no driver-side array, no shared generator, rerun-stable.
  */
object SynthData {

  private[graft] def splitmix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  private def unit(h: Long): Double =
    ((h >>> 11).toDouble / (1L << 53).toDouble)

  /** standard normal from two hashed uniforms (Box-Muller; u1 nudged
    * away from 0 so log stays finite). */
  private[graft] def gauss(key: Long): Double = {
    val u1 = math.max(unit(splitmix(key)), 1e-12)
    val u2 = unit(splitmix(key ^ 0x5555555555555555L))
    StrictMath.sqrt(-2.0 * StrictMath.log(u1)) *
      StrictMath.cos(2.0 * StrictMath.PI * u2)
  }

  /** (vec_id, modality, embedding: array<float>) — n unit vectors in
    * nModalities Gaussian clusters. */
  def clustered(
      spark: SparkSession,
      n: Long,
      dim: Int,
      nModalities: Int,
      seed: Long): DataFrame = {
    import spark.implicits._
    // modality centers: tiny (nModalities × dim), deterministic, shipped
    // in the task closure — the reference's `center = randn(dim) * 2.0`
    val centers = Array.tabulate(nModalities, dim) { (m, d) =>
      gauss(splitmix(seed) ^ splitmix(m.toLong << 32 | d.toLong)) * 2.0
    }
    spark.range(n).map { id =>
      val m = (splitmix(seed ^ id) >>> 33).toInt % nModalities
      val raw = Array.tabulate(dim) { d =>
        centers(m)(d) + gauss(splitmix(seed ^ id) ^ splitmix(0x0D1E5A7AL << 32 | d.toLong)) * 0.5
      }
      var n2 = 0.0
      var i = 0
      while (i < dim) { n2 += raw(i) * raw(i); i += 1 }
      val inv = 1.0 / math.sqrt(n2)
      (id, m, raw.map(x => (x * inv).toFloat))
    }.toDF("vec_id", "modality", "embedding")
  }
}
