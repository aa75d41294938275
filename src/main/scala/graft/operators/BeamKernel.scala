package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Fully-fused multi-round beam search (round 15b) — the kernel form
  * of BeamSearch's round loop.
  *
  * The DataFrame beam advances every query one hop per round through
  * an expand join + two score joins + a TopK shuffle, each round a
  * localCheckpoint job of 3-4 stages. But queries never interact: the
  * per-round expand/distinct/score/pool are all per-qid. When the
  * whole search state is bounded — base bank under Rescore's 64 MiB
  * budget, edge/seed/query lists under the same budget — the entire
  * multi-round search runs as ONE map-only job over the queries
  * against broadcast CSR edges + the bank: per query, `rounds` ×
  * (expand beam through the CSR into a dedup set, score against the
  * bank, keep best-ef with the exact TopKAgg pool rule). No joins, no
  * shuffles, no per-round driver barrier.
  *
  * Bit-identity contract (BeamKernelSpec, + the full catalog row-diff):
  *  - scoring = the VecExprs folds verbatim (float widened per
  *    element, left fold; cosine/ip negated) — VecFold.dist;
  *  - pool = TopKAgg's own Pool (strict (dist, id) order, NaN worst,
  *    exact-duplicate collapse) over bank indices, whose order is id
  *    order; the per-round DataFrame `distinct` is the kernel's
  *    per-query dedup set;
  *  - the INITIAL beam is the uncut scored seed set (the DataFrame
  *    form cuts to ef only after round 1's union);
  *  - seed rows whose qid/bid resolve nowhere are dropped from the
  *    beam but still counted by the visited ledger (scoreOf's inner
  *    joins dropped them AFTER addCounts/count saw them);
  *  - visited ledger = raw seed rows + Σ per-round |per-query expand
  *    set| — exactly seedSet.count() + Σ expanded.count().
  *
  * Above any gate the callers run the DataFrame form verbatim — the
  * 100 TB shape (per-round shuffles over distributed edge/vector
  * tables) is unchanged; this is the same data-sized dual-branch
  * convention as Rescore/cellKnn/dedup_embedding.
  */
object BeamKernel {

  final case class KernelOut(
      rows: Array[(Long, Int, Long, Double)], // (qid, rnk, bid, dist), qid-grouped, rank-ordered
      seedRows: Rescore.Pairs,                // the RAW collected (qid, bid) seed rows (ledger base)
      expandedPerQuery: Array[(Long, Long)]) { // (qid, Σ per-round |expand set|)
    /** The visited ledger per tag (qid mod tagBase; qids are
      * non-negative, so % == pmod): raw seed rows + per-query expansion
      * sums — the DataFrame loop's seed count + Σ expanded counts. */
    def visited(tagBase: Int): Map[Int, Long] = {
      val v = scala.collection.mutable.Map.empty[Int, Long].withDefaultValue(0L)
      (0 until seedRows.length).foreach(i => v((seedRows.a(i) % tagBase).toInt) += 1L)
      expandedPerQuery.foreach { case (q, e) => v((q % tagBase).toInt) += e }
      v.toMap
    }
  }

  final case class TraceOut(
      beams: IndexedSeq[Array[(Long, Long, Double)]], // element r = (qid, bid, dist) beam after round r (0 = scored seeds, dedup'd)
      ledger: Array[(Long, Long, Int)])               // (qid, bid, fr) — first round scored; raw seed pairs at 0

  /** What every task reads: bank, CSR edges in bank-index space, query
    * arrays, per-query valid-seed lists. */
  private final case class Env(
      bank: Rescore.Bank,
      fwd: Rescore.Csr,
      qids: Array[Long],
      qvs: Array[Array[Float]],
      seedsByQ: Array[Array[Int]])

  /** Shared gate + collection for the fused forms: the task environment
    * and the raw seed rows (the ledgers' base). None when any bound
    * fails, a query's width is below 1, or an edge endpoint is outside
    * the bank. The cheap guards run before the query collect, the
    * width check right after it — before any edge, seed or bank work. */
  private def collectInputs(
      edges: DataFrame,
      queries: DataFrame,
      base: DataFrame,
      seeds: DataFrame,
      efOfId: Long => Int,
      rounds: Int,
      n: Long,
      dim: Int): Option[(Env, Rescore.Pairs)] = {
    // advice r15: rounds = 0 would return the uncut insertion-ordered
    // seed beam where the DataFrame form rank-orders and ef-cuts —
    // unreachable from the catalog (rounds are 3/5+), but the kernel
    // sits behind generic defaulted APIs, so fall back rather than diverge.
    if (rounds < 1 || !Rescore.fitsBank(n, dim)) return None
    // advice r15: a non-float qv element type would be silently
    // TRUNCATED by the cast below, where the DataFrame branch scores
    // it in double — fall back instead of casting, so the kernel
    // branch is bit-safe by construction (every current caller passes
    // raw float embeddings; this guard is for future callers).
    queries.schema.find(_.name == "qv").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, _)) => ()
      case _ => return None
    }
    val s = base.sparkSession
    import s.implicits._
    val qCap = math.max(1L, Rescore.BankBytesCap / math.max(1, dim * 4)).toInt
    val qArr = queries.select(col("qid"), col("qv").cast("array<float>"))
      .limit(qCap + 1).as[(Long, Array[Float])].collect()
    if (qArr.length > qCap) return None
    // advice r15: ef = 0 for any query would read scores(-1) in the pool
    // insert; the DataFrame rank-filter would just emit an empty beam.
    // Fall back — bit-safe without emulating the degenerate ledger.
    if (qArr.exists(q => efOfId(q._1) < 1)) return None
    // edge and seed lists: the bank budget's 16 B/row cap, collected packed
    val edgeArr = Rescore.collectPairs(edges, "src", "dst", Rescore.PairCap) match {
      case Some(p) => p
      case None => return None
    }
    val seedArr = Rescore.collectPairs(seeds, "qid", "bid", Rescore.PairCap) match {
      case Some(p) => p
      case None => return None
    }
    val bank = Rescore.collectBank(base)
    val ids = bank.ids
    val nI = ids.length
    // edges to idx space; an endpoint outside the bank means the
    // DataFrame form's scoring semantics need the join — fall back
    val esrc = new Array[Int](edgeArr.length)
    val edst = new Array[Int](edgeArr.length)
    var i = 0
    while (i < edgeArr.length) {
      val ai = java.util.Arrays.binarySearch(ids, edgeArr.a(i))
      val bi = java.util.Arrays.binarySearch(ids, edgeArr.b(i))
      if (ai < 0 || bi < 0) return None
      esrc(i) = ai; edst(i) = bi; i += 1
    }
    val fwd = Rescore.csrOf(nI, esrc, edst)
    // queries: parallel arrays + an id→index map for the seed grouping
    val nq = qArr.length
    val qids = new Array[Long](nq)
    val qvs = new Array[Array[Float]](nq)
    val qIdx = new java.util.HashMap[Long, Integer](nq * 2)
    i = 0
    while (i < nq) {
      qids(i) = qArr(i)._1; qvs(i) = qArr(i)._2
      qIdx.put(qids(i), Integer.valueOf(i)); i += 1
    }
    // valid seeds grouped per query (bid resolved in the bank; raw
    // rows kept separately for the ledgers)
    val seedB = Array.fill(nq)(new scala.collection.mutable.ArrayBuffer[Int](4))
    i = 0
    while (i < seedArr.length) {
      val qi = qIdx.get(seedArr.a(i))
      if (qi != null) {
        val bi = java.util.Arrays.binarySearch(ids, seedArr.b(i))
        if (bi >= 0) seedB(qi.intValue) += bi
      }
      i += 1
    }
    Some((Env(bank, fwd, qids, qvs, seedB.map(_.toArray)), seedArr))
  }

  /** One partition's per-query search state, shared by tryRun and
    * tryTrace. The beam is parallel arrays (bank idx, dist); the pool
    * holds bank indices as ids (Rescore.collectBank: sorted, unique ids,
    * so index order is id order). */
  private final class Beam(fwd: Rescore.Csr, vs: Array[Array[Float]], metric: Int) {
    private val seen = new Array[Boolean](vs.length)
    private var pool = Pool(1)
    /** the last round's expand set is next(0 until en) */
    var next = new Array[Int](1024)
    var en = 0
    var idx: Array[Int] = Array.emptyIntArray
    var dist: Array[Double] = Array.emptyDoubleArray

    /** Initial beam: the DEDUP'D scored seed set, uncut and in
      * insertion order (duplicate seed rows collapse in both the
      * frontier and the pool) — expansion order never affects the
      * output (sets + total order). */
    def start(qv: Array[Float], seeds: Array[Int]): Unit = {
      en = 0
      collect(seeds, 0, seeds.length)
      idx = java.util.Arrays.copyOf(next, en)
      dist = new Array[Double](en)
      var t = 0
      while (t < en) { seen(idx(t)) = false; dist(t) = VecFold.dist(metric, qv, vs(idx(t))); t += 1 }
    }

    private def collect(cs: Array[Int], from: Int, until: Int): Unit = {
      var p = from
      while (p < until) {
        val c = cs(p)
        if (!seen(c)) {
          seen(c) = true
          if (en == next.length) next = java.util.Arrays.copyOf(next, en << 1)
          next(en) = c; en += 1
        }
        p += 1
      }
    }

    /** One round: expand set = ∪ adj(beam member), dedup'd (the
      * round's DataFrame distinct); then beam = top-ef of beam ∪
      * scored(expand set). */
    def round(qv: Array[Float], ef: Int): Unit = {
      en = 0
      var m = 0
      while (m < idx.length) {
        collect(fwd.nbrs, fwd.heads(idx(m)), fwd.heads(idx(m) + 1))
        m += 1
      }
      var t = 0
      while (t < en) { seen(next(t)) = false; t += 1 }
      if (pool.scores.length == ef) pool.size = 0 else pool = Pool(ef)
      m = 0
      while (m < idx.length) { pool.insert(dist(m), idx(m), asc = true); m += 1 }
      t = 0
      while (t < en) {
        pool.insert(VecFold.dist(metric, qv, vs(next(t))), next(t), asc = true)
        t += 1
      }
      idx = Array.tabulate(pool.size)(j => pool.ids(j).toInt)
      dist = java.util.Arrays.copyOf(pool.scores, pool.size)
    }
  }

  /** Run the whole search fused, or return None when any bound fails
    * (caller falls back to the DataFrame rounds). `n`/`dim` size the
    * bank gate — callers know them without extra actions. `efOfId`
    * gives each query's beam width (constant ef for the untagged
    * searches, the tag decode for batched sweeps). This is the ONE
    * kernel job: gate, collect, one broadcast, one map-only pass over
    * the query range; `perPartition` builds each task's per-query body
    * (qid, qv, valid seeds, ef) => rows around that task's Beam and
    * bank ids. Returns the collected rows and the raw seed rows. */
  private def fused[T: scala.reflect.ClassTag](
      edges: DataFrame,
      queries: DataFrame,
      base: DataFrame,
      seeds: DataFrame,
      efOfId: Long => Int,
      rounds: Int,
      metric: String,
      n: Long,
      dim: Int)(
      perPartition: (Beam, Array[Long]) => (Long, Array[Float], Array[Int], Int) => Iterator[T])
      : Option[(Array[T], Rescore.Pairs)] = {
    val (env, seedArr) = collectInputs(edges, queries, base, seeds, efOfId, rounds, n, dim) match {
      case Some(v) => v
      case None => return None
    }
    val mc = VecFold.code(metric)
    val sc = base.sparkSession.sparkContext
    val nq = env.qids.length
    val parts = math.max(1, math.min(sc.defaultParallelism, math.max(1, nq)))
    val envB = sc.broadcast(env)
    try {
      Some((sc.range(0L, nq.toLong, 1L, parts).mapPartitions { it =>
        val e = envB.value
        val query = perPartition(new Beam(e.fwd, e.bank.vecs, mc), e.bank.ids)
        it.flatMap { qiL =>
          val qi = qiL.toInt
          val qid = e.qids(qi)
          query(qid, e.qvs(qi), e.seedsByQ(qi), efOfId(qid))
        }
      }.collect(), seedArr))
    } finally envB.unpersist(blocking = false)
  }

  /** Fused runFromSeeds/runCounted: per query, `rounds` Beam rounds,
    * then the ranked beam and the query's expansion total. */
  def tryRun(
      edges: DataFrame,
      queries: DataFrame,
      base: DataFrame,
      seeds: DataFrame,
      efOfId: Long => Int,
      rounds: Int,
      metric: String,
      n: Long,
      dim: Int): Option[KernelOut] =
    fused(edges, queries, base, seeds, efOfId, rounds, metric, n, dim) { (beam, bids) =>
      (qid, qv, sd, ef) =>
        var expTotal = 0L
        beam.start(qv, sd)
        var r = 0
        while (r < rounds) { beam.round(qv, ef); expTotal += beam.en; r += 1 }
        // a query with no valid seeds emits no rows and no expansions —
        // exactly the DataFrame form (inner joins drop it everywhere)
        val bi = beam.idx; val bd = beam.dist
        Iterator.tabulate(bi.length)(j => (qid, j + 1, bids(bi(j)), bd(j), expTotal))
    }.map { case (out, seedArr) =>
      val rows = new Array[(Long, Int, Long, Double)](out.length)
      val expB = Array.newBuilder[(Long, Long)]
      var prevQ = Long.MinValue
      var i = 0
      while (i < out.length) {
        val r = out(i)
        rows(i) = (r._1, r._2, r._3, r._4)
        if (r._1 != prevQ) { expB += ((r._1, r._5)); prevQ = r._1 }
        i += 1
      }
      KernelOut(rows, seedArr, expB.result())
    }

  /** Fused runTrace: ONE kernel job emitting (a) the beam snapshot
    * after every round — element 0 the scored-seed set, element r the
    * post-round-r top-ef beam — and (b) the first-scored-round ledger
    * for expansion nodes. Snapshot 0 is the DEDUP'D scored seed set
    * (the DataFrame form's beam0 keeps duplicate seed ROWS; every
    * consumer aggregates by (qid, bid), so multiplicity is
    * value-invisible — BeamKernelSpec pins the distinct-set equality
    * and the exact ledger). The raw-seed fr=0 ledger rows (which the
    * DataFrame form keeps even for unresolvable qids/bids) are
    * assembled driver-side from the collected seed rows; the kernel
    * emits only expansion entries, so the (qid, bid) → min(fr) roll-up
    * is reproduced exactly. l2 metric only (runTrace's). */
  def tryTrace(
      edges: DataFrame,
      queries: DataFrame,
      base: DataFrame,
      seeds: DataFrame,
      ef: Int,
      maxRounds: Int,
      n: Long,
      dim: Int): Option[TraceOut] =
    // row encoding: (round, qid, bid, dist, -1) = snapshot row;
    //               (-1, qid, bid, 0.0, fr)   = ledger expansion row
    fused(edges, queries, base, seeds, _ => ef, maxRounds, "l2", n, dim) { (beam, bids) =>
      val firstRound = new Array[Int](bids.length)
      java.util.Arrays.fill(firstRound, -1)
      var marked = new Array[Int](1024)
      (qid, qv, sd, _) =>
        val rowsB = Array.newBuilder[(Int, Long, Long, Double, Int)]
        var mn = 0
        @inline def mark(c: Int, r: Int): Boolean =
          if (firstRound(c) == -1) {
            firstRound(c) = r
            if (mn == marked.length) marked = java.util.Arrays.copyOf(marked, mn << 1)
            marked(mn) = c; mn += 1
            true
          } else false
        @inline def snapshot(r: Int): Unit = {
          var t = 0
          while (t < beam.idx.length) {
            rowsB += ((r, qid, bids(beam.idx(t)), beam.dist(t), -1)); t += 1
          }
        }
        // dedup'd valid seed set; ledger marks fr=0 (emission of the
        // fr=0 rows is driver-side over the RAW pairs)
        beam.start(qv, sd)
        beam.idx.foreach(mark(_, 0))
        snapshot(0)
        var r = 0
        while (r < maxRounds) {
          r += 1
          beam.round(qv, ef)
          // ledger: first-scored round for expansion nodes not seen before
          var t = 0
          while (t < beam.en) {
            val c = beam.next(t)
            if (mark(c, r)) rowsB += ((-1, qid, bids(c), 0.0, r))
            t += 1
          }
          snapshot(r)
        }
        var t = 0
        while (t < mn) { firstRound(marked(t)) = -1; t += 1 }
        rowsB.result().iterator
    }.map { case (out, seedArr) =>
      val snaps = IndexedSeq.fill(maxRounds + 1)(Array.newBuilder[(Long, Long, Double)])
      val ledgerB = Array.newBuilder[(Long, Long, Int)]
      // fr=0 rows: the RAW seed pairs, dedup'd by (qid, bid) — exactly
      // candFirst's roll-up of seedSet (unresolvable rows included)
      val seen0 = new java.util.HashSet[(Long, Long)]()
      (0 until seedArr.length).foreach { i =>
        val p = (seedArr.a(i), seedArr.b(i))
        if (seen0.add(p)) ledgerB += ((p._1, p._2, 0))
      }
      out.foreach { r =>
        if (r._1 >= 0) snaps(r._1) += ((r._2, r._3, r._4))
        else ledgerB += ((r._2, r._3, r._5))
      }
      TraceOut(snaps.map(_.result()), ledgerB.result())
    }
}
