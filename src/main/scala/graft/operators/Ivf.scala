package graft.operators

import graft.functions.{NearestCell, Vec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** IVF coarse quantizer — the MEAR anchor routing of Idea-1023.md
  * (k-means cluster centers as multi-entry seeds, cluster-level
  * candidates) built with DataFrame ops.
  *
  * Scale shape (SURVEY §5): only the k centroid vectors ever reach the
  * driver (k ≪ N by construction); assignment is a broadcast map over
  * the base; each distributed Lloyd iteration is ONE job, a
  * treeAggregate of per-cell quantized long sums under a broadcast
  * centroid bank (no groupBy, no cache). The build spreads a narrow
  * base to the session's cores first (Spread.wide). Every nearest-cell
  * decision — the Lloyd rounds, the final assignment, the search probe
  * — runs NearestCell's one compiled fold. Search probes on the driver
  * and scores each cell row only against the queries that probe its
  * cell (the row's own `cid` column), in one map-only QueryScan job.
  */
object Ivf {

  /** Data-sized quantizer parameters (VERDICT r6/r7 item 1: the 1M run
    * proved a code-sized 16-cell quantizer scans 25% of a 1M base per
    * probe set; cells must derive from the corpus count). The formula
    * is the √N rule the scale run validated — cells ≈ √N/4 rounded to
    * a power of two — expressed in INTEGER arithmetic (16·p² ≥ n) so
    * the DuckDB oracle computes the identical value with no float-log
    * edge cases: 16 cells up to ~4k vectors (every test-SF oracle
    * unchanged), 256 at 1M, 1024 at 10M. */
  val MinCells = 16
  val MaxCells = 65536
  /** smallest power of two p in [MinCells, MaxCells] with 16·p² ≥ n */
  def cellsFor(n: Long): Int = {
    var p = MinCells
    while (p < MaxCells && 16L * p * p < n) p *= 2
    p
  }

  /** DATA-SIZED probe width (r9 verdict item 5): every other knob in
    * the stack derives from N but nprobe stayed 4, so the 10M catalog
    * default answered 0.264 recall while the docs pointed at nprobe as
    * the knob. Rule: smallest power of two p with p·p ≥ cells — 4 at
    * ≤ 16 cells (every test-SF hash unchanged), 16 at 256 cells (1M:
    * the measured 0.859-recall point), 32 at 1024 cells (10M). Probed
    * fraction stays ≈ nprobe/cells ≈ 1/√cells → shrinks as the corpus
    * grows, while recall holds via more, smaller cells. Mirrored by
    * the ivf_search oracle's `bnp` CTE. */
  val MinProbe = 4
  def nprobeFor(cells: Int): Int = {
    var p = MinProbe
    while (p < cells && p * p < cells) p *= 2
    p
  }

  /** k-means training-sample stride: Lloyd iterations run on ~128
    * vectors per centroid (`vec_id % stride = 0`), the full corpus
    * only pays the single final assignment pass — at 100 TB nobody
    * Lloyd-iterates the whole table. stride 1 (train = all) until n
    * exceeds 128·cells, so test-SF builds are byte-identical to the
    * unsampled form. */
  val TrainPerCell = 128L
  def trainStrideFor(n: Long, cells: Int): Long =
    math.max(1L, n / (TrainPerCell * cells))

  /** Data-sized build: cells and training stride derived from the
    * corpus count; returns (centroids, full assignment, cells).
    *
    * The base goes through `Spread.wide` once — each Lloyd round and
    * the final assignment score every scanned float against at least
    * MinCells centroids — and, when it fires, is localCheckpointed, so
    * the count and dimension, the training sample and the final
    * assignment all read that one spread copy instead of scanning the
    * parquet again. Below the gate the base is used as given. */
  def sizedBuild(emb: DataFrame, iters: Int): (DataFrame, DataFrame, Int) = {
    val base = Spread.wide(emb, "vec_id", MinCells.toLong * (iters + 1))
      .map(_.localCheckpoint()).getOrElse(emb)
    // the count and the dimensionality in one aggregate
    val stats = base.agg(count(lit(1)), max(size(col("embedding")))).head()
    val n = stats.getLong(0)
    val k = cellsFor(n)
    val stride = trainStrideFor(n, k)
    val train = if (stride <= 1L) base else base.filter(col("vec_id") % stride === 0)
    // fused-Lloyd hint: trainN ≤ n/stride + 1 (the gate only needs a
    // size class, both branches are bit-identical)
    val c = centroids(train, k, iters, Some((n / stride + 1L, stats.getInt(1))))
    (c, assign(base, c), k)
  }

  /** Per-iteration Lloyd work bound for the fused driver-side branch:
    * trainN·k·dim multiply-adds ≤ ~134M (≈100 ms single-threaded).
    * Small builds (test-SF quantizers, anchor banks, PQ subspace
    * codebooks) fuse; a 1M-corpus build (33k × 256 × 64 ≈ 5.4e8) takes
    * the distributed branch — the driver must never absorb a
    * cluster-sized Lloyd loop. */
  private val FusedIterWorkCap = 1L << 27

  /** Deterministic k-means: init = k lowest vec_ids (cid = rank), then
    * `iters` Lloyd rounds. Returns (cid, cv: array<double>) centroids.
    * Elements are read as float (every corpus stores float32; another
    * element type is cast).
    *
    * Two branches, bit-identical (IvfFusedSpec):
    *  - fused: `fusedHint` = Some((trainN, dim)) lets the whole loop
    *    run driver-side over ONE collect when the train set fits
    *    Rescore's bank budget AND the per-iteration work is bounded
    *    (round 16: a 2000-row build's arithmetic is milliseconds, its
    *    jobs are not);
    *  - distributed: the init is one collect (one job), and each
    *    iteration is ONE job — the centroid bank is broadcast and a
    *    treeAggregate folds every row into per-cell sums.
    * Both fold each row with `CellSums.add` and finish each round with
    * `CellSums.means`; the sums are Moments-quantized longs
    * (floor(x·1e6 + 0.5)), which are order-free, so the partitioning,
    * the fold order and the merge order never reach the centroids and
    * argmin ties cannot flip across runs. */
  def centroids(emb: DataFrame, k: Int, iters: Int,
      fusedHint: Option[(Long, Int)] = None): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val rows = emb.select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
      .as[(Long, Array[Float])]
    val fused = fusedHint.exists { case (n, dim) =>
      Rescore.fitsBank(n, dim) && n * k.toLong * dim <= FusedIterWorkCap
    }
    val (cids, cvs) = if (fused) {
      val all = rows.collect()
      lloyd(all.sortBy(_._1).take(k), iters) { bank =>
        all.foldLeft(bank.noSums)((acc, r) => acc.add(bank, r._2))
      }
    } else {
      val vecs = rows.select(col("embedding")).as[Array[Float]].rdd
      lloyd(rows.orderBy(col("vec_id")).limit(k).collect(), iters) { bank =>
        val bc = s.sparkContext.broadcast(bank)
        try vecs.treeAggregate(bank.noSums)((acc, v) => acc.add(bc.value, v), _.merge(_))
        finally bc.destroy()
      }
    }
    s.createDataset(cids.toIndexedSeq.zip(cvs.map(_.toSeq))).toDF("cid", "cv")
  }

  /** The Lloyd loop over a centroid bank: cid = rank of the init rows
    * (the k lowest vec_ids, ascending), cv = the float vector widened
    * per element; `pass` folds every train row into per-cell sums. */
  private def lloyd(init: Array[(Long, Array[Float])], iters: Int)(
      pass: Bank => CellSums): (Array[Long], Array[Array[Double]]) = {
    var bank = Bank(Array.tabulate(init.length)(_.toLong), init.map(_._2.map(_.toDouble)))
    for (_ <- 1 to iters) bank = pass(bank).means(bank)
    (bank.cids, bank.cvs)
  }

  /** Centroids, cid-ascending. */
  private final case class Bank(cids: Array[Long], cvs: Array[Array[Double]]) {
    /** Empty per-cell sums over this bank's cells. */
    def noSums: CellSums =
      new CellSums(cids.length, if (cvs.nonEmpty) cvs(0).length else 0)
  }

  /** One Lloyd round's per-cell sums: `sums(c)` holds, for bank cell
    * c, the dim Moments-quantized coordinate sums of the rows nearest
    * to it plus the row count in the last slot (null = no row). */
  private final class CellSums(cells: Int, dim: Int) extends Serializable {
    private val sums = new Array[Array[Long]](cells)
    @transient private lazy val cell = new NearestCell

    /** VecNearestCid's nearest cell (NearestCell: float widened per
      * element, strict Double.compare, the ascending-cid scan keeps the
      * lowest cid on ties), then the quantized coordinates into it. */
    def add(bank: Bank, v: Array[Float]): CellSums = {
      val bestC = cell.load(v).nearest(bank.cvs)
      var sArr = sums(bestC)
      if (sArr == null) { sArr = new Array[Long](dim + 1); sums(bestC) = sArr }
      val n = math.min(dim, v.length)
      var i = 0
      while (i < n) { sArr(i) += math.floor(v(i).toDouble * 1000000.0 + 0.5).toLong; i += 1 }
      sArr(dim) += 1L
      this
    }

    def merge(o: CellSums): CellSums = {
      var c = 0
      while (c < sums.length) {
        val b = o.sums(c)
        if (b != null) {
          if (sums(c) == null) sums(c) = b
          else { val a = sums(c); var i = 0; while (i <= dim) { a(i) += b(i); i += 1 } }
        }
        c += 1
      }
      this
    }

    /** The next bank: each non-empty cell's mean (sums / n / 1e6 in
      * double, the Moments update), empty cells dropped, cids kept. */
    def means(b: Bank): Bank = {
      val kept = sums.indices.filter(sums(_) != null).toArray
      Bank(kept.map(b.cids(_)), kept.map { c =>
        val sArr = sums(c)
        val cnt = sArr(dim)
        Array.tabulate(dim)(i => sArr(i).toDouble / cnt / 1000000.0)
      })
    }
  }

  /** Nearest-centroid assignment: emb columns + `cid` (bigint), as a
    * MAP-ONLY scan — the centroid bank is collected to the driver (k ≪ N
    * by contract) and the per-row argmin runs in one expression
    * (VecNearestCid), whose generated code calls NearestCell's compiled
    * fold. The previous crossJoin(broadcast) +
    * min(struct(d2, cid)) shape generated N·k rows whose aggregation
    * falls back to a sort at large k: at 10M×1024 cells the 10-billion-
    * row sort spill filled the disk. The kernel is bit-identical to the
    * struct-min (same fold, ascending-cid strict update = tie-break by
    * smallest cid), so every oracle hash is unchanged — and the
    * vec_id↔best self-join this shape needed is gone too. */
  def assign(emb: DataFrame, cents: DataFrame): DataFrame = {
    val rows = cents.select(col("cid").cast("long"), col("cv").cast("array<double>"))
      .collect().sortBy(_.getLong(0))
    val cids = rows.map(_.getLong(0))
    val bank = rows.map(_.getSeq[Double](1).toArray)
    val bc = org.apache.spark.sql.graftbridge.Bridge
    emb.withColumn("cid",
      bc.column(graft.functions.VecNearestCid(bc.expr(col("embedding")), cids, bank)))
  }

  /** Entry-quantizer resolution rule (round 11, lesson 42 / m7).
    *
    * m7 measured the binding constraint on clustered corpora: the
    * routed search's `cellsFor` (≈4√N) anchor quantizer left a
    * 4,096-cluster 1M corpus component-starved (recall 0.18–0.24,
    * visited/q collapsed — beam exhaustion), while a 4,096-cell entry
    * quantizer recovered held-out 0.857–0.887. The detection signal is
    * the quantization-error LADDER: mean d² on a fixed eval sample at
    * cells = cellsFor(n)·{1,2,4,…}. On unstructured data a doubling
    * buys only the isotropic high-dimensional rate (2^(-2/d) ≈ 0.98 at
    * 64d — m6's isotropic control); on a corpus whose cluster count
    * exceeds the current depth it buys a STRUCTURAL drop (m7: 0.65 at
    * 2,048, 0.41 at 4,096 where the clusters resolve). The sharp drop
    * is back-loaded (the first doubling read an isotropic-looking
    * 0.90), so the rule scans the FULL ladder and takes the deepest
    * doubling still under `EntryStructureRatio` — never the first
    * flat step.
    *
    * Probe cost is build-time and bounded: each depth trains on the
    * standard `trainStrideFor` sample (≤128·cells rows) and the eval
    * sample is fixed at the shallowest depth's stride (≈128·cellsFor
    * rows, depth-independent). The ladder caps at `entryCapCells` —
    * max(maxMult·cellsFor, n/64) bounded by `MaxCells` and n−1 (the
    * data-sized extension is round 15's m15 fix; the mult floor alone
    * stopped a still-structural resolution at 4M). Consumed by the
    * catalog's routed-search anchors
    * (HnswQs3.resolvedEntryCells — persisted ladder artifact, oracle
    * mirrored by SqlIvf.entryCtes); the CELL substrate (cellKnn,
    * ivf_search) stays at `cellsFor` — only entry seeding needs
    * cluster resolution, m7's design. */
  val EntryStructureRatio = 0.85
  val EntryMaxMult = 32

  /** Memorization guard for the DATA-SIZED ladder extension: past
    * cells/n ≈ 3% a trained quantizer memorizes its sample and every
    * ratio reads "structural" regardless of structure (lesson 44), so
    * the extension term is capped at n/EntryMemFracDen = 1.5625% of
    * the corpus — a 2× margin under the bar. */
  val EntryMemFracDen = 64L

  /** Ladder depth cap, data-sized (round 15 — m15 measured
    * EntryMaxMult BINDING for the first time: the 4M × 16,384-cluster
    * corpus's resolver was stopped at c0·32 = exactly the cluster
    * count with the final ratio still deeply structural (0.406), the
    * past-cap 32,768 step measured 0.4385 = structural, and the
    * aq=32,768 recall control quantifies the recall the cap was
    * costing — docs/scale_run.md §m15).
    *
    * cap = min(max(c0·maxMult, n/EntryMemFracDen), MaxCells, n−1).
    * The n/64 term extends the ladder only when it exceeds c0·maxMult
    * — with c0 ≈ √n/4 that needs n ≳ 2048·c0 ≈ 262k, so every test-SF
    * corpus, every spec corpus and the DuckDB oracle's static unroll
    * (log2(EntryMaxMult) chains, SqlIvf.entryCtes) are bit-identical
    * to the r11–r14 rule; at scale it reaches 32,768 at 4M (the m15
    * control's depth) and clamps at MaxCells from ~4.2M up. The n/64
    * ceiling keeps every extended step at cells/n ≤ 1.56%, inside the
    * asymptotic regime the structural threshold targets (lesson 44's
    * memorization bar is ~3%). */
  def entryCapCells(n: Long, maxMult: Int = EntryMaxMult): Long =
    math.min(
      math.min(
        math.max(cellsFor(n).toLong * maxMult, n / EntryMemFracDen),
        MaxCells.toLong),
      n - 1)

  /** Margin below the corpus's own ISOTROPIC per-doubling rate
    * (round 12 — VERDICT r11 "what's wrong" 2). "Structural" must
    * mean "better than unstructured data would buy", and the
    * unstructured rate is dimension-dependent: a doubling on an
    * isotropic d-dim corpus improves mean d² by ≈ 2^(-2/d) — 0.978
    * at 64d, 0.993 at 200d, but 0.84 at d = 8, i.e. BELOW the fixed
    * 0.85 bar. A low-dimensional isotropic corpus would "resolve"
    * every doubling to the cap, paying maxMult× anchor cost for zero
    * recall and reading as structured in every diagnostic. The
    * margin (0.03) clears the measured scatter of isotropic ratios
    * around their rate (m6 at 64d: ±0.015). */
  val EntryRatioMargin = 0.03

  /** Dimension-aware structural threshold:
    * min(EntryStructureRatio, 2^(-2/d) − margin), the pow term
    * quantized to 1e-4 so the JVM and the DuckDB oracle (whose libm
    * `pow` may differ in the last ulp) compute the IDENTICAL double —
    * verified bit-equal across JVM/libm for every d ≤ 4096. For
    * d ≥ 11 the min resolves to the flat 0.85, so every existing
    * corpus (32d specs, 64d, 200d) is byte-identical to the r11
    * rule. Mirrored by SqlIvf.entryCtes's `thr` CTE. */
  def entryStructureRatioFor(dim: Int): Double =
    math.min(EntryStructureRatio,
      math.floor((math.pow(2.0, -2.0 / dim) - EntryRatioMargin) * 10000.0) / 10000.0)

  /** Corpus dimensionality from one row (constant across rows by
    * schema contract — callers of the dimension-aware resolver use
    * this when the dim isn't already in hand). */
  def dimOf(emb: DataFrame): Int =
    emb.select(size(col("embedding"))).head().getInt(0)

  /** (cells, quantized mean d² on the fixed eval sample) per doubling,
    * each depth a 2-round Lloyd k-means. `emb` columns: (vec_id,
    * embedding). Sums quantize per-row d² to integers first
    * (determinism rule — exact under any partitioning). */
  def entryLadder(emb: DataFrame, n: Long, maxMult: Int = EntryMaxMult): Seq[(Int, Double)] = {
    val c0 = cellsFor(n)
    val evalStride = trainStrideFor(n, c0)
    val eval = (if (evalStride <= 1L) emb
      else emb.filter(col("vec_id") % evalStride === 0)).localCheckpoint()
    val evalN = eval.count()
    val steps = Iterator.iterate(c0)(_ * 2)
      .takeWhile(c => c.toLong <= entryCapCells(n, maxMult))
      .toSeq
    steps.map { cells =>
      val stride = trainStrideFor(n, cells)
      val train = if (stride <= 1L) emb else emb.filter(col("vec_id") % stride === 0)
      val cents = centroids(train, cells, 2).localCheckpoint()
      val meanD2 = assign(eval, cents)
        .join(broadcast(cents), Seq("cid"))
        .select(floor(Vec.l2sqFast(col("embedding"), col("cv"))
          * lit(1000000.0) + lit(0.5)).cast("long").as("d2q"))
        .agg(sum(col("d2q"))).head().getLong(0).toDouble / 1e6 / evalN
      (cells, meanD2)
    }
  }

  /** The resolved entry-quantizer depth: the deepest ladder step whose
    * doubling ratio is still structural (< entryStructureRatioFor(d));
    * cellsFor(n) when no doubling is. `dim` is the corpus
    * dimensionality (the threshold is dimension-aware — see
    * EntryRatioMargin). */
  def entryCellsFor(ladder: Seq[(Int, Double)], dim: Int): Int = {
    val r = entryStructureRatioFor(dim)
    val structural = ladder.zip(ladder.tail).filter {
      case ((_, prev), (_, cur)) => cur < prev * r
    }
    structural.lastOption.map(_._2._1).getOrElse(ladder.head._1)
  }

  /** nprobe nearest centroids per query (probed on the driver:
    * NearestCell's distances into a Pool, ties to the lower cid) →
    * (qid, rnk, bid, dist) exact L2 top-k, ONE QueryScan job scoring
    * each cell row only against the queries probing its cell. Vectors are read as float (every corpus
    * stores float32; another element type is cast). */
  def search(
      base: DataFrame, // vec_id, embedding, cid
      cents: DataFrame,
      queries: DataFrame, // qid, qv
      nprobe: Int,
      k: Int): DataFrame = {
    val rows = cents.select(col("cid").cast("long"), col("cv").cast("array<double>")).collect()
    val (cids, bank) = (rows.map(_.getLong(0)), rows.map(_.getSeq[Double](1).toArray))
    val qs = QueryScan.queries(queries)
    val cell = new NearestCell
    // cid → the indices of the queries probing it
    val byCid = qs.indices.flatMap { qi =>
      val (qv, p) = (qs(qi)._2, Pool(nprobe))
      val d = cell.load(qv).distances(bank, 0, qv.length)
      cids.indices.foreach(c => p.insert(d(c), cids(c), asc = true))
      p.ids.take(p.size).map(_ -> qi)
    }.groupMap(_._1)(_._2).map { case (cid, qis) => cid -> qis.toArray }
    QueryScan.search(base.select(col("vec_id"), col("embedding").cast("array<float>"),
        col("cid").cast("long")), qs, (qs.map(_._2), byCid), k, asc = true, "bid", "dist") {
      case ((qvs, probed), it, ps) => it.foreach { row =>
        probed.get(row.getLong(2)).foreach { qis =>
          val e = row.getArray(1).toFloatArray()
          qis.foreach(qi => ps(qi).insert(VecFold.l2(qvs(qi), e), row.getLong(0), asc = true))
        }
      }
    }
  }
}
