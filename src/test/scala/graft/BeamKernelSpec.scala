package graft

import graft.operators.{BeamKernel, BeamSearch}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round 15b: the fused multi-round beam kernel (BeamKernel) must be
  * bit-identical to BeamSearch's DataFrame rounds — results AND
  * visited ledgers — under every semantic corner the DataFrame form
  * has: duplicate seed rows, seed rows with an absent bid or qid
  * (dropped from the beam but counted by the ledger), an initial seed
  * beam wider than ef (the DataFrame form cuts only after round 1),
  * exact-duplicate base vectors (ties → id order), a zero vector
  * under cosine (NaN ranks worst), nodes with no out-edges, and the
  * per-tag batched form with per-query ef. */
class BeamKernelSpec extends AnyFunSuite with SharedSpark {

  private val dim = 8

  private def base() = {
    import spark.implicits._
    // ids non-contiguous (×3+2); 40/41 duplicate 7/8; id 20 is the
    // zero vector (cosine NaN)
    val rows = (0 until 50).map { i =>
      val b = if (i == 40) 7 else if (i == 41) 8 else i
      val v = if (i == 20) Array.fill(dim)(0f)
        else Array.tabulate(dim)(d => (math.sin(b * 31 + d * 7) * 100).toFloat)
      (i.toLong * 3 + 2, v)
    }
    rows.toDF("bid", "bv")
  }

  private def edges() = {
    import spark.implicits._
    // ~4 out-edges per node except 5 sink nodes with none
    val es = for {
      i <- 0 until 50 if i % 10 != 3
      j <- 0 until 4
    } yield (i.toLong * 3 + 2, ((i * 17 + j * 23 + 5) % 50).toLong * 3 + 2)
    es.filter { case (a, b) => a != b }.toDF("src", "dst")
  }

  private def queries() = {
    import spark.implicits._
    val rows = (0 until 10).map { q =>
      (q.toLong * 1000 + 11,
        Array.tabulate(dim)(d => (math.cos(q * 13 + d * 5) * 90).toFloat))
    }
    rows.toDF("qid", "qv")
  }

  /** seeds: 6 per query (wider than ef=4), with triplicated rows, one
    * absent bid, one absent qid, and one pointing at the zero vector. */
  private def seeds() = {
    import spark.implicits._
    val rows = (for {
      q <- 0 until 10
      j <- 0 until 6
    } yield (q.toLong * 1000 + 11, ((q * 7 + j * 11) % 50).toLong * 3 + 2)) ++
      Seq((11L, 5L * 3 + 2), (11L, 5L * 3 + 2),       // duplicate rows
        (1011L, 999L),                                 // absent bid
        (777777L, 8L),                                 // absent qid
        (2011L, 20L * 3 + 2))                          // zero vector (NaN under cosine)
    rows.toDF("qid", "bid")
  }

  private def canon(df: org.apache.spark.sql.DataFrame) =
    df.select(col("qid"), col("rnk").cast("int"), col("bid"), col("dist"))
      .orderBy(col("qid"), col("rnk")).collect().map(_.toSeq).toSeq

  test("fused kernel == DataFrame rounds, all metrics (results + visited)") {
    for (metric <- Seq("l2", "cosine", "ip")) {
      val (refDf, refVisByTag) = BeamSearch.runCounted(
        edges(), queries(), base(), seeds(), ef = 4, rounds = 3, metric)
      val ref = canon(refDf)
      val refVis = refVisByTag.values.sum
      val k = BeamKernel.tryRun(edges(), queries(), base(), seeds(),
        _ => 4, rounds = 3, metric, n = 50, dim = dim)
      assert(k.isDefined, s"kernel gate unexpectedly failed for $metric")
      val ko = k.get
      val got = ko.rows.map { case (q, r, b, d) => Seq[Any](q, r, b, d) }
        .sortBy(r => (r.head.asInstanceOf[Long], r(1).asInstanceOf[Int])).toSeq
      assert(got == ref, s"results diverged for $metric")
      val gotVis = ko.seedRows.length.toLong + ko.expandedPerQuery.map(_._2).sum
      assert(gotVis == refVis, s"visited ledger diverged for $metric")
    }
  }

  test("fused kernel == DataFrame rounds through the public wrapper") {
    val ref = canon(BeamSearch.runFromSeeds(
      edges(), queries(), base(), seeds(), ef = 4, rounds = 3))
    val got = canon(BeamSearch.runFromSeeds(
      edges(), queries(), base(), seeds(), ef = 4, rounds = 3,
      kernelInfo = Some((50L, dim))))
    assert(got == ref)
  }

  test("batched by-tag form: per-tag results, ledgers and per-query ef") {
    import spark.implicits._
    // tag queries like the wide family: qid' = qid·16 + tag, tag ∈
    // {2, 5} with ef = tag + 2 (so the two tags run different widths)
    val tags = Seq(2, 5)
    val q2 = queries()
    val qTagged = tags.map(t => q2.select((col("qid") * 16 + t).as("qid"), col("qv")))
      .reduce(_ union _)
    val sTagged = tags.map(t => seeds().select((col("qid") * 16 + t).as("qid"), col("bid")))
      .reduce(_ union _)
    val (refDf, refVis) = BeamSearch.runCounted(
      edges(), qTagged, base(), sTagged, ef = 7, rounds = 3,
      tagBase = 16, efRule = Some(BeamSearch.TagEf(16, 2)))
    val ref = canon(refDf)
    val (gotDf, gotVis) = BeamSearch.runCounted(
      edges(), qTagged, base(), sTagged, ef = 7, rounds = 3,
      kernelInfo = Some((50L, dim)), tagBase = 16, efRule = Some(BeamSearch.TagEf(16, 2)))
    assert(canon(gotDf) == ref)
    assert(tags.forall(t => gotVis.getOrElse(t, 0L) == refVis.getOrElse(t, 0L)),
      s"per-tag ledgers diverged: $gotVis vs $refVis")
  }

  test("fused trace == DataFrame runTrace (ledger exact, beams value-identical)") {
    val (refBeams, refLedger) = BeamSearch.runTrace(
      edges(), queries(), base(), seeds(), ef = 4, maxRounds = 3)
    val (gotBeams, gotLedger) = BeamSearch.runTrace(
      edges(), queries(), base(), seeds(), ef = 4, maxRounds = 3,
      kernelInfo = Some((50L, dim)))
    // the kernel branch actually fired: its beams are LocalRelations
    assert(gotBeams.head.queryExecution.optimizedPlan.collectLeaves()
      .forall(_.nodeName.contains("LocalRelation")), "kernel branch did not fire")
    // candFirst roll-up (qid, bid → min fr) must be EXACT — it feeds
    // visited counts
    def ledgerCanon(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("qid"), col("bid")).agg(min(col("fr")).as("fr"))
        .orderBy(col("qid"), col("bid")).collect().map(_.toSeq).toSeq
    assert(ledgerCanon(gotLedger) == ledgerCanon(refLedger))
    // per-round beams: identical DISTINCT row sets (snapshot 0 of the
    // DataFrame form carries duplicate seed ROWS; every consumer
    // aggregates per (qid, bid), so sets are the value contract)
    refBeams.zip(gotBeams).zipWithIndex.foreach { case ((r, g), i) =>
      def c(df: org.apache.spark.sql.DataFrame) =
        df.select(col("qid"), col("bid"), col("dist")).distinct()
          .orderBy(col("qid"), col("bid")).collect().map(_.toSeq).toSeq
      assert(c(g) == c(r), s"beam snapshot $i diverged")
    }
  }

  test("degenerate-input guards fall back to the DataFrame form (advice r15)") {
    import spark.implicits._
    // rounds = 0: the kernel would return the uncut insertion-ordered
    // seed beam where the DataFrame form rank-orders and ef-cuts
    assert(BeamKernel.tryRun(edges(), queries(), base(), seeds(),
      _ => 4, rounds = 0, "l2", n = 50, dim = dim).isEmpty)
    assert(BeamKernel.tryTrace(edges(), queries(), base(), seeds(),
      ef = 4, maxRounds = 0, n = 50, dim = dim).isEmpty)
    // ef < 1 for any query: the pool insert would read pd(-1)
    assert(BeamKernel.tryRun(edges(), queries(), base(), seeds(),
      q => if (q == 11L) 0 else 4, rounds = 3, "l2", n = 50, dim = dim).isEmpty)
    assert(BeamKernel.tryTrace(edges(), queries(), base(), seeds(),
      ef = 0, maxRounds = 3, n = 50, dim = dim).isEmpty)
    // ...and the width check runs right after the query collect, before
    // any edge, seed or bank work: with every fixture one non-local
    // partition (so each collect is exactly one Spark job) the fallback
    // runs at most one job
    val (efFallback, efJobs) = jobsOf("beam-ef-guard")(BeamKernel.tryRun(
      edges().coalesce(1), queries().coalesce(1), base().coalesce(1),
      seeds().coalesce(1), q => if (q == 11L) 0 else 4, rounds = 3, "l2", n = 50, dim = dim))
    assert(efFallback.isEmpty)
    assert(efJobs <= 1, s"ef < 1 fallback ran $efJobs jobs")
    // non-float qv element type: the kernel's cast would truncate to
    // float where the DataFrame branch scores in double
    val qD = queries().select(col("qid"), col("qv").cast("array<double>").as("qv"))
    assert(BeamKernel.tryRun(edges(), qD, base(), seeds(),
      _ => 4, rounds = 3, "l2", n = 50, dim = dim).isEmpty)
    // and the double-typed queries still produce the DataFrame result
    // through the gated wrapper
    val ref = canon(BeamSearch.runFromSeeds(
      edges(), qD, base(), seeds(), ef = 4, rounds = 3))
    val got = canon(BeamSearch.runFromSeeds(
      edges(), qD, base(), seeds(), ef = 4, rounds = 3,
      kernelInfo = Some((50L, dim))))
    assert(got == ref)
  }

  test("staged kernel form == staged DataFrame form (results + ledgers)") {
    // runStaged's kernel path = maxRounds independent fused searches;
    // stage r must reproduce the single staged search's round-r
    // snapshot and cumulative visited exactly (walls are measured
    // latency — excluded, as everywhere)
    val ref = BeamSearch.runStaged(
      edges(), queries(), base(), seeds(), ef = 4, maxRounds = 3)
    val got = BeamSearch.runStaged(
      edges(), queries(), base(), seeds(), ef = 4, maxRounds = 3,
      kernelInfo = Some((50L, dim)))
    assert(ref.length == got.length)
    ref.zip(got).zipWithIndex.foreach { case (((rDf, rVis, _), (gDf, gVis, _)), i) =>
      assert(gVis == rVis, s"stage ${i + 1} visited diverged")
      assert(canon(gDf) == canon(rDf), s"stage ${i + 1} beam diverged")
    }
  }

  test("gate falls back when an edge endpoint is outside the bank") {
    import spark.implicits._
    val badEdges = edges().union(Seq((5L, 99999L)).toDF("src", "dst"))
    val k = BeamKernel.tryRun(badEdges, queries(), base(), seeds(),
      _ => 4, rounds = 3, "l2", n = 50, dim = dim)
    assert(k.isEmpty)
    // and the wrapper still returns the DataFrame-form result
    val ref = canon(BeamSearch.runFromSeeds(
      badEdges, queries(), base(), seeds(), ef = 4, rounds = 3))
    val got = canon(BeamSearch.runFromSeeds(
      badEdges, queries(), base(), seeds(), ef = 4, rounds = 3,
      kernelInfo = Some((50L, dim))))
    assert(got == ref)
    // runStaged falls back at the FIRST failing stage: with the edges
    // shuffled (so their collect is a Spark job), the gated staged
    // search costs at most one failed tryRun more than the DataFrame
    // staged search, and returns its stages
    val bad = badEdges.repartition(2)
    val (refSt, refJobs) = jobsOf("beam-staged-df")(BeamSearch.runStaged(
      bad, queries(), base(), seeds(), ef = 4, maxRounds = 3))
    val (gotSt, gotJobs) = jobsOf("beam-staged-gated")(BeamSearch.runStaged(
      bad, queries(), base(), seeds(), ef = 4, maxRounds = 3,
      kernelInfo = Some((50L, dim))))
    val (failed, failJobs) = jobsOf("beam-tryrun-failed")(BeamKernel.tryRun(
      bad, queries(), base(), seeds(), _ => 4, rounds = 1, "l2", n = 50, dim = dim))
    assert(failed.isEmpty)
    assert(gotSt.length == refSt.length)
    refSt.zip(gotSt).zipWithIndex.foreach { case (((rDf, rVis, _), (gDf, gVis, _)), i) =>
      assert(gVis == rVis, s"stage ${i + 1} visited diverged")
      assert(canon(gDf) == canon(rDf), s"stage ${i + 1} beam diverged")
    }
    assert(gotJobs - refJobs <= failJobs,
      s"gated staged ran $gotJobs jobs, DataFrame staged $refJobs, one failed tryRun $failJobs")
  }
}
