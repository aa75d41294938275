package graft.operators

import graft.sources.SynthData
import org.apache.spark.sql.DataFrame

/** Deterministic query-drift construction (round 13 m13 → round 14
  * shipped diagnostic). The reference's whole setting is
  * out-of-distribution queries (its tables are t2i/w2i — text queries
  * over an image base, README_RoarGraph.md:56-112), and m13 measured
  * the operational hazard: an in-distribution held-out split reads
  * 0.98 while drifted traffic gets 0.56 — a recall monitor that can't
  * see drift is an anti-signal (docs/scale_run.md §m13). This is the
  * drift generator behind the quality sweep's `eval_dist` rows.
  *
  * dNN: push each query a fixed TOTAL norm sigma = NN/100 off its
  * position along a per-query deterministic hash direction, then
  * re-normalize. cos(q, q') = 1/sqrt(1 + sigma²) holds in EXPECTATION
  * (the hash direction is not orthogonalized against qv, so each query
  * carries an O(sigma/√d) spread around that value). Pure hash math of
  * (qid, element index) — bit-identical on any partitioning/core
  * count, which is what lets the sweep's drifted rows ride the
  * crosscore gate.
  */
object QueryDrift {

  /** The per-row kernel, exposed for spec-level pinning: sigma-scaled
    * hash-Gaussian push + re-normalization, all double math folded in
    * element order, result truncated to float per element. */
  def dNNVec(qid: Long, qv: Array[Float], sigma: Double): Array[Float] = {
    val dd = qv.length
    val g = Array.tabulate(dd) { i =>
      SynthData.gauss(SynthData.splitmix(0xD21F7L ^ qid) ^
        SynthData.splitmix(0xA11CEL << 32 | i.toLong))
    }
    var gn = 0.0
    var i = 0
    while (i < dd) { gn += g(i) * g(i); i += 1 }
    val gs = sigma / math.sqrt(gn)
    val raw = Array.tabulate(dd)(i => qv(i) + gs * g(i))
    var n2 = 0.0
    i = 0
    while (i < dd) { n2 += raw(i) * raw(i); i += 1 }
    val inv = 1.0 / math.sqrt(n2)
    raw.map(x => (x * inv).toFloat)
  }

  /** (qid, qv) → (qid, qv drifted). `tag` is the harness/sweep
    * encoding "dNN" (sigma = NN/100): sigmaOf("d100") = 1.0. */
  def dNN(qs: DataFrame, sigma: Double): DataFrame = {
    val spark = qs.sparkSession
    import spark.implicits._
    qs.selectExpr("qid", "qv").as[(Long, Array[Float])]
      .map { case (qid, qv) => (qid, dNNVec(qid, qv, sigma)) }
      .toDF("qid", "qv")
  }

  /** "dNN" → NN/100.0; rejects anything else (the sweep and the
    * harness share one tag grammar). */
  def sigmaOf(tag: String): Double = {
    require(tag.startsWith("d") && tag.drop(1).nonEmpty &&
      tag.drop(1).forall(_.isDigit), s"unknown drift tag $tag")
    tag.drop(1).toInt / 100.0
  }
}
