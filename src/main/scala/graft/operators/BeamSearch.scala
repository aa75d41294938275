package graft.operators

import graft.functions.Vec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Batch beam search over an edge-table graph — the Spark re-expression
  * of the reference's queue-driven graph search
  * (roargraph_python.py:325-420, hnsw _search_layer): instead of
  * pointer-chasing per query, ALL queries advance one hop per round via
  * one edges join, keeping a bounded frontier (beam) per query. Rounds
  * ≈ graph hops; each round is one shuffle on node id.
  */
object BeamSearch {

  /** Single-source beam-width rule for the tagged sweep search
    * (advice r15): the DataFrame branch's Column filter and the kernel
    * branch's scalar decode both derive from ONE value, so the two
    * encodings cannot drift — which branch executes depends on a
    * data-sized gate, and a divergence would have changed sweep
    * results only at certain corpus sizes. */
  sealed trait EfRule {
    def column(q: Column): Column
    def of(q: Long): Int
  }
  /** Constant beam width for every query. */
  final case class ConstEf(ef: Int) extends EfRule {
    def column(q: Column): Column = lit(ef)
    def of(q: Long): Int = ef
  }
  /** Tag-decoded width: ef = (qid % tagBase) + offset — the batched
    * sweep's "the tag IS the point's ef" encoding (qids are
    * non-negative, so % == pmod). */
  final case class TagEf(tagBase: Int, offset: Int = 0) extends EfRule {
    def column(q: Column): Column =
      if (offset == 0) pmod(q, lit(tagBase)) else pmod(q, lit(tagBase)) + lit(offset)
    def of(q: Long): Int = (q % tagBase).toInt + offset
  }

  /** Uncounted search from a seed frontier: `seeds` = (qid, bid). A
    * single global entry point (roar_entry_point) is the one-row seed
    * set `queries.select(qid).withColumn("bid", lit(entry))`; several
    * anchor seeds per query are the multi-entry variant (Idea-1023.md
    * MEAR).
    * @param edges   (src, dst) directed edge table
    * @param queries (qid, qv) query vectors
    * @param base    (bid, bv) node vectors
    * @param ef      beam width per query
    * @param rounds  expansion rounds
    * @param metric  l2 | cosine | ip (Vec.metricDist; the beam minimizes)
    * @param kernelInfo Some((baseN, dim)) lets the search run as ONE
    *                fused kernel job when every bound holds
    *                (BeamKernel — bit-identical, BeamKernelSpec);
    *                None = the DataFrame rounds, unchanged
    * @return (qid, rnk, bid, dist) best-ef per query after expansion
    */
  def runFromSeeds(
      edges: DataFrame,
      queries: DataFrame,
      base: DataFrame,
      seeds: DataFrame,
      ef: Int,
      rounds: Int,
      metric: String = "l2",
      kernelInfo: Option[(Long, Int)] = None): DataFrame =
    search(edges, queries, base, seeds, ef, ConstEf(ef), rounds, metric, kernelInfo,
      countBy = None)._1

  /** Same search, additionally returning the visited ledger: the number
    * of scored candidate rows (seeds + per-round distinct expansions) —
    * the reference benchmark's visited-nodes column
    * (benchmark_hnsw_vs_roargraph.py avg_visited). Counting runs one
    * extra action per round, so runFromSeeds skips it. Deterministic:
    * counts are over distinct candidate sets.
    *
    * Batched sweep points: several same-shape sweep points advance
    * through ONE search. Query and seed ids arrive pre-tagged
    * (qid' = qid·tagBase + tag, 0 ≤ tag < tagBase) and the ledger
    * returns PER TAG (qid' mod tagBase). `efRule` gives each row's beam
    * width (≤ ef; one rule generates both branches' decodes — advice
    * r15): the pool keeps ef candidates and rank-filters, which is
    * identical to running each tag at its own width because top-e is
    * the e-prefix of top-ef under the strict (dist, id) total order.
    * One edges join per round regardless of how many tags ride along,
    * and every result column stays bit-identical per tag to the
    * untagged runs (BeamBatchSpec). Untagged callers keep the defaults
    * and read the total as `visited.values.sum`. */
  def runCounted(
      edges: DataFrame,
      queries: DataFrame,
      base: DataFrame,
      seeds: DataFrame,
      ef: Int,
      rounds: Int,
      metric: String = "l2",
      kernelInfo: Option[(Long, Int)] = None,
      tagBase: Int = 1,
      efRule: Option[EfRule] = None): (DataFrame, Map[Int, Long]) =
    search(edges, queries, base, seeds, ef, efRule.getOrElse(ConstEf(ef)), rounds, metric,
      kernelInfo, countBy = Some(tagBase))

  /** One search, a snapshot after EVERY round: element r-1 is (top-ef
    * result, cumulative visited, cumulative wall nanos) as of round r.
    * A rounds-parameter sweep costs one maxRounds search instead of
    * 1+2+…+maxRounds rounds — the beam after round r is identical
    * whether or not the search continues, and each round materializes
    * (localCheckpoint) inside this call, so the per-stage clock is
    * honest. */
  def runStaged(
      edges: DataFrame,
      queries: DataFrame,
      base: DataFrame,
      seeds: DataFrame,
      ef: Int,
      maxRounds: Int,
      kernelInfo: Option[(Long, Int)] = None): Seq[(DataFrame, Long, Long)] = {
    // Under the BeamKernel gates the staged sweep runs as maxRounds
    // INDEPENDENT fused searches (rounds = 1..maxRounds): a fresh
    // rounds=r search reproduces stage r's result and visited ledger
    // bit-for-bit (the invariant above; BeamKernelSpec), and stage r's
    // clock is that search's own wall — a genuine per-point measurement
    // of the same logical work the cumulative staged clock times. The
    // first gate failure falls back to the single staged DataFrame
    // search (the 100 TB shape), without retrying the gate per stage.
    val s = base.sparkSession
    val fused = kernelInfo.toList.flatMap { case (n, dim) =>
      (1 to maxRounds).iterator.map { r =>
        val t0 = System.nanoTime()
        BeamKernel.tryRun(edges, queries, base, seeds, _ => ef, r, "l2", n, dim).map(k =>
          (kernelDf(s, k), k.visited(1).values.sum, System.nanoTime() - t0))
      }.takeWhile(_.isDefined).flatten
    }
    if (fused.length == maxRounds) fused
    else {
      val rule = ConstEf(ef)
      loop(edges, queries, base, seeds, ef, rule, maxRounds, "l2", countBy = Some(1),
        trace = false)._1.tail.map(r => (ranked(r.beam, ef, rule), r.visited, r.nanos))
    }
  }

  /** Search-path trace (reference search_steps_to_target /
    * _search_layer_trace_until_target_with_phases,
    * hnsw_cosine_status_high.py:524,737): one l2 search, returning
    * (a) the beam snapshot after every round — element r is the top-ef
    * beam as of round r, element 0 being the scored seeds — and
    * (b) the per-query visited ledger (qid, bid, fr) where fr is the
    * FIRST round each candidate was scored (0 = seed). Both are
    * deterministic (no clocks, no counts), so trace diagnostics built
    * on them are oracle-able, unlike the timed runStaged. */
  def runTrace(
      edges: DataFrame,
      queries: DataFrame,
      base: DataFrame,
      seeds: DataFrame,
      ef: Int,
      maxRounds: Int,
      kernelInfo: Option[(Long, Int)] = None): (Seq[DataFrame], DataFrame) =
    kernelInfo.flatMap { case (n, dim) =>
      BeamKernel.tryTrace(edges, queries, base, seeds, ef, maxRounds, n, dim)
    } match {
      case Some(t) =>
        val s = base.sparkSession
        import s.implicits._
        (t.beams.map(a => s.createDataset(a.toIndexedSeq).toDF("qid", "bid", "dist")),
          s.createDataset(t.ledger.toIndexedSeq).toDF("qid", "bid", "fr"))
      case None =>
        val trail = loop(edges, queries, base, seeds, ef, ConstEf(ef), maxRounds, "l2",
          countBy = None, trace = true)._1
        // a node revisited in a later round keeps its first-scored round
        val candFirst = trail.zipWithIndex
          .map { case (r, i) => r.expanded.withColumn("fr", lit(i)) }
          .reduce(_ union _)
          .groupBy(col("qid"), col("bid"))
          .agg(min(col("fr")).as("fr")).localCheckpoint()
        (trail.map(_.beam), candFirst)
    }

  private def kernelDf(s: org.apache.spark.sql.SparkSession,
      k: BeamKernel.KernelOut): DataFrame = {
    import s.implicits._
    s.createDataset(k.rows.toIndexedSeq).toDF("qid", "rnk", "bid", "dist")
  }

  /** The fused kernel when `kernelInfo` admits it, else the DataFrame
    * rounds; the ledger is per tag when `countBy` = Some(tagBase). */
  private def search(
      edges: DataFrame,
      queries: DataFrame,
      base: DataFrame,
      seeds: DataFrame,
      maxEf: Int,
      ef: EfRule,
      rounds: Int,
      metric: String,
      kernelInfo: Option[(Long, Int)],
      countBy: Option[Int]): (DataFrame, Map[Int, Long]) =
    kernelInfo.flatMap { case (n, dim) =>
      BeamKernel.tryRun(edges, queries, base, seeds, ef.of, rounds, metric, n, dim)
    } match {
      case Some(k) =>
        (kernelDf(base.sparkSession, k), countBy.fold(Map.empty[Int, Long])(k.visited))
      case None =>
        val (trail, visited) = loop(edges, queries, base, seeds, maxEf, ef, rounds, metric,
          countBy, trace = false)
        (ranked(trail.last.beam, maxEf, ef), visited)
    }

  /** (qid, rnk, bid, dist): the maxEf pool, rank-filtered to each
    * query's width. */
  private def ranked(beam: DataFrame, maxEf: Int, ef: EfRule): DataFrame =
    TopK.perGroup(beam, "qid", "bid", "dist", maxEf, asc = true)
      .filter(col("rnk") <= ef.column(col("qid")))

  /** One round's state: the beam (qid, bid, dist) after it, the
    * candidate set it scored (round 0: the seed rows), the cumulative
    * visited total and the nanos since the search began. */
  private final case class Round(beam: DataFrame, expanded: DataFrame, visited: Long, nanos: Long)

  /** The one DataFrame round loop behind every form. Scores the seeds,
    * then per round expands the frontier (frontier ⋈ edges, distinct),
    * pools beam ∪ scored expansion to maxEf and rank-filters it by
    * `ef`. `countBy` = Some(tagBase) counts the visited ledger per tag
    * (qid mod tagBase): the raw seed rows + every round's distinct
    * expansion. `trace` also materializes the scored seeds, so beam 0
    * is a checkpointed snapshot. Returns every round's state (element
    * 0 = the seeds) and the per-tag ledger. */
  private def loop(
      edges: DataFrame,
      queries: DataFrame,
      base: DataFrame,
      seeds: DataFrame,
      maxEf: Int,
      ef: EfRule,
      rounds: Int,
      metric: String,
      countBy: Option[Int],
      trace: Boolean): (IndexedSeq[Round], Map[Int, Long]) = {
    // dist = Vec.metricDist: l2 distance, or negated cosine/ip — the
    // beam always minimizes, so one ordering rule serves all metrics
    val scoreOf: DataFrame => DataFrame = cand =>
      cand.join(base, Seq("bid"))
        .join(queries, Seq("qid"))
        .select(col("qid"), col("bid"),
          Vec.metricDist(metric)(col("qv"), col("bv")).as("dist"))
    val visited = scala.collection.mutable.Map.empty[Int, Long].withDefaultValue(0L)
    def addCounts(df: DataFrame): Unit = countBy.foreach { b =>
      df.groupBy(pmod(col("qid"), lit(b)).as("tag")).count().collect()
        .foreach(r => visited(r.getAs[Long]("tag").toInt) += r.getAs[Long]("count"))
    }
    val t0 = System.nanoTime()
    val seedSet = seeds.select(col("qid"), col("bid"))
    addCounts(seedSet)
    val beam0 = scoreOf(seedSet)
    val trail = IndexedSeq.newBuilder[Round]
    var last = Round(if (trace) beam0.localCheckpoint() else beam0, seedSet,
      visited.values.sum, System.nanoTime() - t0)
    trail += last
    for (_ <- 1 to rounds) {
      val frontier = last.beam.select(col("qid"), col("bid").as("src"))
      val expanded0 = frontier.join(edges, Seq("src"))
        .select(col("qid"), col("dst").as("bid"))
        .distinct()
      // a caller that reads the expansion (ledger count, trace ledger)
      // gets it materialized once (round 15): that read and the scoring
      // pass would otherwise each recompute the expand join. The
      // uncounted search keeps the lazy form (one consumer, no action).
      val expanded =
        if (countBy.isDefined || trace) expanded0.localCheckpoint() else expanded0
      addCounts(expanded)
      // no visited-set anti-join: revisited nodes score identically
      // (deterministic distance) and TopKAgg collapses exact-duplicate
      // (score, id) candidates, so re-expansion is only wasted work on
      // the small frontier, not a correctness concern.
      // localCheckpoint: cut the per-round lineage so round r doesn't
      // replan/recompute rounds < r (graph traversals deepen plans fast)
      val beam = ranked(last.beam.union(scoreOf(expanded)), maxEf, ef)
        .select(col("qid"), col("bid"), col("dist")).localCheckpoint()
      last = Round(beam, expanded, visited.values.sum, System.nanoTime() - t0)
      trail += last
    }
    (trail.result(), visited.toMap)
  }
}
