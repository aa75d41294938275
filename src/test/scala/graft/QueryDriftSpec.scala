package graft

import graft.operators.QueryDrift
import graft.sources.SynthData
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the round-14 drift-monitor machinery.
  *
  * 1. The QueryDrift.dNN kernel is BIT-IDENTICAL to the original m13
  *    inline held-out-harness math (re-implemented here verbatim as
  *    the independent oracle) — the refactor that shared the
  *    construction with the sweep cannot have changed the m13
  *    numbers.
  * 2. The drifted-eval sweep rows exist at test SF: ann_quality_sweep
  *    emits the routed operating point once per eval_dist in
  *    {indist, d100} (from persisted counted artifacts) plus — round
  *    15 — d100 rows for the ivf np=12 and multi n=8 points, with sane
  *    recall values. Determinism across core counts is the crosscore
  *    gate's job (wall_ms/qps excluded there as documented).
  */
class QueryDriftSpec extends AnyFunSuite with SharedSpark {

  /** the original m13 harness construction, copied verbatim */
  private def originalDnn(qid: Long, qv: Array[Float], sigma: Double): Array[Float] = {
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

  test("dNN kernel is bit-identical to the m13 inline construction") {
    val qs = SynthData.clustered(spark, 64L, 64, nModalities = 4, seed = 7L)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val drifted = QueryDrift.dNN(qs, 1.0).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val orig = qs.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    assert(orig.nonEmpty)
    orig.foreach { case (qid, qv) =>
      val exp = originalDnn(qid, qv, 1.0)
      val got = drifted(qid)
      assert(java.util.Arrays.equals(exp, got), s"qid=$qid drift mismatch")
    }
  }

  test("sigmaOf parses the shared tag grammar and rejects junk") {
    assert(QueryDrift.sigmaOf("d100") === 1.0)
    assert(QueryDrift.sigmaOf("d25") === 0.25)
    intercept[IllegalArgumentException](QueryDrift.sigmaOf("xgen"))
    intercept[IllegalArgumentException](QueryDrift.sigmaOf("d"))
  }

  test("drift moves queries off their position (cos < 1) deterministically") {
    val qs = SynthData.clustered(spark, 32L, 64, nModalities = 4, seed = 9L)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val d1 = QueryDrift.dNN(qs, 1.0).collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val d2 = QueryDrift.dNN(qs, 1.0).collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val cosines = qs.collect().map { r =>
      val qid = r.getLong(0); val qv = r.getSeq[Float](1).toArray
      assert(java.util.Arrays.equals(d1(qid), d2(qid)), "nondeterministic drift")
      val dv = d1(qid)
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < qv.length) {
        dot += qv(i).toDouble * dv(i); na += qv(i).toDouble * qv(i)
        nb += dv(i).toDouble * dv(i); i += 1
      }
      dot / math.sqrt(na * nb)
    }
    // sigma=1 → cos ≈ 1/√2 in EXPECTATION with O(1/√d) per-query
    // spread at 64d (QueryDrift scaladoc) — check the mean, loosely
    val mean = cosines.sum / cosines.length
    assert(mean > 0.6 && mean < 0.8, f"mean drifted cosine $mean%.3f off expectation")
    assert(cosines.forall(_ < 0.95), "some query barely moved — sigma not applied?")
  }

  test("ann_quality_sweep ships the routed eval_dist pair at test SF") {
    val df = queries.HnswQs.annQualitySweep.fn(spark, sf)
    assert(df.columns.toSeq ==
      Seq("method", "param", "recall", "avg_visited", "hops", "wall_ms",
        "qps", "batch_n", "entry_cells", "seed_evals", "eval_dist"))
    val routed = df.filter(col("method") === "routed_ip")
      .select(col("eval_dist"), col("recall"), col("seed_evals")).collect()
    assert(routed.map(_.getString(0)).sorted.toSeq ==
      Seq(queries.HnswQs.SweepDriftTag, "indist").sorted,
      s"expected the indist/${queries.HnswQs.SweepDriftTag} routed pair, " +
        s"got ${routed.mkString(",")}")
    routed.foreach { r =>
      assert(r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0)
      assert(r.getDouble(2) > 0.0, "seed_evals must be populated on both rows")
    }
    // round 15: the drift pair extends past the routed family — the
    // ivf np=12 and multi n=8 operating points each ship a d100 row
    // (method × eval_dist, the reference's method-vs-method-under-OOD
    // comparison shape)
    val d100 = df.filter(col("eval_dist") === queries.HnswQs.SweepDriftTag)
      .select(col("method"), col("param"), col("recall")).collect()
    assert(d100.map(_.getString(0)).sorted.toSeq ==
      Seq("ivf", "multi", "routed_ip"),
      s"expected ivf/multi/routed_ip drifted rows, got ${d100.mkString(",")}")
    val d100ByMethod = d100.map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(d100ByMethod("ivf") == 12 && d100ByMethod("multi") == 8)
    d100.foreach(r =>
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0))
    // families without a drift row stay in-distribution
    val others = df
      .filter(!col("method").isin("ivf", "multi", "routed_ip"))
      .select(col("eval_dist")).distinct().collect().map(_.getString(0))
    assert(others.toSeq == Seq("indist"))
  }
}
