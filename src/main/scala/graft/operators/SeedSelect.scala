package graft.operators

import graft.functions.Vec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Entry-seed selection for the routed graph search.
  *
  * The routed search (queries/HnswQs3.routedSearch; the reference's
  * search entry phase, hnsw_with_bridges_optimized.py:137-185 with
  * num_entry_points start nodes from a fixed entry set) seeds
  * each query's beam with its `ents` nearest anchor nodes. The exact
  * form scans the whole anchor bank per query; at the depths the
  * entry resolver picks on structured corpora (8,192 cells → ~6.5k
  * distinct anchors) that scan is ~84% of query-time distance
  * evaluations (docs/scale_run.md "Two-level seeding MEASURED").
  *
  * `twoLevelScored` is the measured fix: k-means the anchor bank
  * itself into the smallest power of two ≥ √|bank| coarse cells and
  * scan only the anchors of the query's top-`tl` coarse cells —
  * O(√|bank|·tl) seed evals. Measured on three corpora (clean 64d,
  * 200d, hostile 64d): tl = 16 matches the exact scan's held-out
  * recall to four decimals at ~15% of the seed evals. When `tl ≥ cc`
  * every coarse cell is probed, the candidate set is the whole bank,
  * and the selection is BITWISE equal to the exact form (same
  * distance expression, same (d, bid) tie-break) — SeedSelectSpec
  * pins this, which is what makes the mode safe to wire into the
  * catalog later: the approximation is a continuous knob with an
  * exact endpoint.
  *
  * Wired into the catalog in round 13: graph_routed_search(_ip)
  * seeds through `twoLevelScored` at the data-sized `tlFor` width
  * (HnswQs3.seedLevels — persisted coarse bank, DuckDB mirror
  * SqlIvf.seedCtes).
  *
  * Metric note: the COARSE probe always ranks cells by L2 against
  * the k-means centroids — it mirrors the quantizer's own geometry,
  * exactly like the cell→member map of the routed search (which
  * stays L2 in both engines regardless of query metric). Only the
  * final candidate scoring runs in the query's metric, preserving
  * the exact scan's seed semantics: at the tl ≥ cc endpoint the
  * candidate set is the whole bank and the pick is bitwise the
  * exact metric scan.
  */
object SeedSelect {

  /** Data-sized probe width over `cc` coarse cells: at least 16
    * cells and at least 1/8 of the bank's coarse resolution.
    * Anchored at the measured operating point (docs/scale_run.md
    * "Two-level seeding MEASURED"): tl = 16 at cc = 128 (the ~6.5k
    * banks of m7/m8/m10 aq=8,192) matches the exact scan's held-out
    * recall to four decimals on all three corpora at 15% of the
    * seed evals; the floor keeps small banks (cc = 16 at every test
    * SF) on the bitwise-exact endpoint. */
  def tlFor(cc: Int): Int = math.max(16, cc / 8)

  /** All (qid, bid, d) pairs of the exact full-bank scan.
    * `anchors`: (bid, bv) — k-sized by contract (broadcast). */
  def exactScored(qs: DataFrame, anchors: DataFrame,
      metric: String = "l2"): DataFrame =
    qs.crossJoin(broadcast(anchors))
      .select(col("qid"), col("bid"),
        Vec.metricDist(metric)(col("qv"), col("bv")).as("d"))

  /** Coarse resolution over a bank of `bankN` anchors: the smallest
    * power of two ≥ √bankN, floor 16 (mirrored by the DuckDB oracle's
    * `slcc` CTE — SqlIvf.seedCtes). */
  def coarseCellsFor(bankN: Long): Int = {
    var cc = 16
    while (cc.toLong * cc < bankN) cc <<= 1
    cc
  }

  /** Coarse quantizer over the anchor bank: (coarse centroids as
    * (cid, cvf float), anchors tagged (bid, cid, bv), cell count).
    * cc = smallest power of two ≥ √|bank|, floor 16. */
  def coarseBank(anchors: DataFrame): (DataFrame, DataFrame, Int) = {
    val cc = coarseCellsFor(anchors.count())
    val aEmb = anchors.select(col("bid").as("vec_id"), col("bv").as("embedding"))
    val coarse = Ivf.centroids(aEmb, cc, 2).localCheckpoint()
    val aCells = Ivf.assign(aEmb, coarse)
      .select(col("vec_id").as("bid"), col("cid"), col("embedding").as("bv"))
      .localCheckpoint()
    (coarse.select(col("cid"), col("cv").cast("array<float>").as("cvf")), aCells, cc)
  }

  /** Scored candidates of the two-level scan: the anchors of each
    * query's top-`tl` coarse cells (ranked by L2 against the float
    * centroids, ties by cid — the quantizer's geometry), distances
    * computed with the same metric expression as the exact form. */
  def twoLevelScored(qs: DataFrame, coarse: DataFrame, aCells: DataFrame,
      tl: Int, metric: String = "l2"): DataFrame = {
    val qCells = TopK.perGroup(
      qs.crossJoin(broadcast(coarse))
        .select(col("qid"), col("cid"), Vec.l2Fast(col("qv"), col("cvf")).as("d")),
      "qid", "cid", "d", tl, asc = true).select(col("qid"), col("cid"))
    qCells.join(broadcast(aCells), Seq("cid")).join(qs, Seq("qid"))
      .select(col("qid"), col("bid"),
        Vec.metricDist(metric)(col("qv"), col("bv")).as("d"))
  }

  /** Final seed pick: `ents` nearest candidates per query under the
    * strict (d asc, bid) order both engines use. */
  def pick(scored: DataFrame, ents: Int): DataFrame =
    TopK.perGroup(scored, "qid", "bid", "d", ents, asc = true)
      .select(col("qid"), col("bid"))
}
