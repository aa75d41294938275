package graft.operators

import graft.functions.Vec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Fused rescore + bounded top-k for candidate EDGE PAIRS — the
  * NN-Descent round shape (knn_descent, approxLayers' refinement
  * rounds, knn_refine): candidates (src, dst) are rescored with exact
  * L2 and reduced to the best k per src.
  *
  * Round 15 measurement: the join formulation (cand ⋈ vecs on src,
  * ⋈ vecs on dst, l2, TopKAgg) pays ~1.3 µs/pair of row machinery —
  * two 64-float array copies into UnsafeRows per pair dominate, the
  * arithmetic is ~60 ns — and at bench scale the (2k)²-candidate round
  * stage ran 0.38 s on three tasks. When the vector bank fits a
  * broadcast (n·d·4 B ≤ 64 MiB — data-sized, the lesson-22 bounded-bank
  * rule), the pairs stream through a per-partition kernel against the
  * broadcast bank instead: same float-widened left-fold L2
  * (VecFold.l2), same pool as TopKAgg (Pool: strict (dist, id)
  * order, NaN ranks worst, exact-duplicate (dist, id) candidates
  * collapse — dup collapse matters: NN-Descent feeds duplicate pairs
  * by design), partial pools merged through TopK.perGroup under the
  * same rule, so the output is bit-identical to the join form at any
  * partitioning (RescoreSpec proves it, duplicates included). Above
  * the cutover the join form runs unchanged — the branch is by corpus
  * size only, so a given dir always takes one branch and the two
  * branches are proven equal, exactly the dedup_embedding scale-branch
  * convention.
  *
  * Inner-join semantics preserved: a pair whose src or dst is absent
  * from `vecs` is dropped, and src == dst pairs are dropped (the
  * callers' filter).
  */
object Rescore {

  /** Bank budget: 64 MiB of packed floats (≈ 262k vectors at 64d,
    * ≈ 84k at 200d). Broadcast once per (vecs, round-loop); above it
    * the join form's shuffle is the right 100 TB shape (lesson 50:
    * vectors hit disk once, in the shuffle only).
    *
    * Driver-heap note (advice r15): the 16 B/row gates below
    * (fitsFused, BeamKernel.RowCap) account for PACKED sizes, but the
    * collection step materializes boxed Scala tuples (~48-64 B per
    * (Long, Long) edge; more for per-round pool rows), so transient
    * driver heap at the gate boundary is ~3-4× the stated budget —
    * ~800 MiB worst-case against the sandbox's multi-GB driver. Any
    * future gate tuning must keep (cap × boxing multiplier) inside
    * driver memory, not just the cap. */
  private[graft] val BankBytesCap = 64L << 20

  def fitsBank(n: Long, dim: Int): Boolean = n * dim * 4L <= BankBytesCap

  /** Collected, id-sorted bank for the kernel branch. Ids are unique,
    * so bank-INDEX order is id order: the fused kernels (fusedRound,
    * BeamKernel) pool bank indices under the id tie-break. */
  final case class Bank(ids: Array[Long], vecs: Array[Array[Float]])

  private[graft] def collectBank(vecs: DataFrame): Bank = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val arr = vecs.select(col("bid"), col("bv")).as[(Long, Array[Float])]
      .collect().sortBy(_._1)
    val ids = arr.map(_._1)
    var i = 1
    while (i < ids.length) {
      require(ids(i - 1) != ids(i), s"vector bank id ${ids(i)} is not unique")
      i += 1
    }
    Bank(ids, arr.map(_._2))
  }

  /** Rescore + keep best-k per src. `vecs` = (bid, bv: array<float>);
    * `cand` = (src, dst). Returns TopK.perGroup's exact output shape
    * (src, rnk, dst, dist). `n`/`dim` size the branch (callers already
    * know them — no extra count jobs). Pass a pre-collected `bank` to
    * amortize the collect+broadcast across an iterative loop. */
  def keepK(
      cand: DataFrame,
      vecs: DataFrame,
      n: Long,
      dim: Int,
      k: Int,
      bank: Option[org.apache.spark.broadcast.Broadcast[Bank]] = None): DataFrame = {
    val spark = cand.sparkSession
    if (!fitsBank(n, dim) && bank.isEmpty) {
      // join form — the pre-round-15 path, verbatim
      val scored = cand
        .join(vecs.select(col("bid").as("src"), col("bv").as("sv")), Seq("src"))
        .join(vecs.select(col("bid").as("dst"), col("bv").as("dv")), Seq("dst"))
        .select(col("src"), col("dst"), Vec.l2Fast(col("sv"), col("dv")).as("dist"))
      TopK.perGroup(scored.filter(col("src") =!= col("dst")),
        "src", "dst", "dist", k, asc = true)
    } else {
      import spark.implicits._
      val bc = bank.getOrElse(spark.sparkContext.broadcast(collectBank(vecs)))
      val pooled = cand.select(col("src"), col("dst")).as[(Long, Long)]
        .mapPartitions { it =>
          val b = bc.value
          val ids = b.ids; val vs = b.vecs
          val pools = scala.collection.mutable.HashMap.empty[Long, Pool]
          while (it.hasNext) {
            val (src, dst) = it.next()
            if (src != dst) {
              val si = java.util.Arrays.binarySearch(ids, src)
              val di = java.util.Arrays.binarySearch(ids, dst)
              // inner-join semantics: drop pairs with an absent endpoint
              if (si >= 0 && di >= 0)
                pools.getOrElseUpdate(src, Pool(k))
                  .insert(VecFold.l2(vs(si), vs(di)), dst, asc = true)
            }
          }
          pools.iterator.flatMap { case (src, p) => p.rows(src) }
        }
        .toDF("src", "dst", "dist")
      TopK.perGroup(pooled, "src", "dst", "dist", k, asc = true)
    }
  }

  /** Broadcast a bank for reuse across an iterative loop's rounds
    * (one collect, one broadcast). Only call when fitsBank holds. */
  def broadcastBank(vecs: DataFrame): org.apache.spark.broadcast.Broadcast[Bank] =
    vecs.sparkSession.sparkContext.broadcast(collectBank(vecs))

  // ---- fully-fused round form (round 15b) ----
  //
  // The NN-Descent round's remaining DataFrame cost was building the
  // candidate pairs: und = fwd ∪ rev, then non = und ⋈ und on mid — a
  // per-round shuffle whose row volume is (2k)² per node — before the
  // pairs even reach the bank kernel, plus a TopK.perGroup merge of
  // partial pools. When the round's EDGE LIST itself is bounded (n·k
  // idx pairs inside the same 64 MiB budget as the bank), the whole
  // round fuses into ONE map-only job over the node range: candidates
  // are generated per node from a broadcast CSR adjacency, so each
  // node's pool is complete in exactly one task — no join, no shuffle,
  // no merge. Above the gate the keepK join/kernel forms run verbatim
  // (lesson 50's shape is unchanged at scale). DescentFusedSpec proves
  // both modes bit-identical to the keepK forms, duplicate pairs and
  // pathological ties included.

  /** Fused-round gate: collected idx-space edge arrays (16 B/edge)
    * must fit the same budget as the bank. */
  def fitsFused(nEdges: Long): Boolean = nEdges * 16L <= BankBytesCap

  /** Edge list in bank-INDEX space, grouped by src idx ascending with
    * each group in pool (dist, id) rank order. */
  private[graft] final case class IdxEdges(
      src: Array[Int], dst: Array[Int], dist: Array[Double])

  /** Compressed sparse rows over bank indices. */
  private[graft] final case class Csr(heads: Array[Int], nbrs: Array[Int])

  private[graft] def csrOf(n: Int, src: Array[Int], dst: Array[Int]): Csr = {
    val heads = new Array[Int](n + 1)
    var i = 0
    while (i < src.length) { heads(src(i) + 1) += 1; i += 1 }
    i = 0
    while (i < n) { heads(i + 1) += heads(i); i += 1 }
    val nbrs = new Array[Int](src.length)
    val fill = java.util.Arrays.copyOf(heads, n)
    i = 0
    while (i < src.length) {
      val s0 = src(i); nbrs(fill(s0)) = dst(i); fill(s0) += 1; i += 1
    }
    Csr(heads, nbrs)
  }

  /** One fused rescore round — a single map-only job, complete
    * per-node pools. Candidate set for node i (idx space):
    *  - `rev == null`: fwd(i) dedup'd — keepK(pairs) over the given
    *    directed pairs;
    *  - else: und(i) ∪ und(und(i)) with und = fwd ∪ rev — the
    *    NN-Descent round's keepK(fwd ∪ rev ∪ non).
    * c == i candidates are dropped (keepK's src =!= dst filter) and a
    * dedup'd candidate SET yields the same pool as the join form's
    * duplicate-bearing multiset (exact-duplicate (dist, id) entries
    * collapse); distances/order are VecFold.l2 and Pool, the keepK
    * kernel's own. Bank ids are sorted and unique, so the pool holds
    * bank indices and idx-space grouping is id order. */
  private[graft] def fusedRound(
      s: org.apache.spark.sql.SparkSession,
      bankB: org.apache.spark.broadcast.Broadcast[Bank],
      fwd: Csr,
      rev: Csr,
      k: Int): IdxEdges = {
    val n = bankB.value.ids.length
    val adjB = s.sparkContext.broadcast((fwd, rev))
    val parts = math.max(1, math.min(s.sparkContext.defaultParallelism, n))
    val rows = s.sparkContext.range(0L, n.toLong, 1L, parts).mapPartitions { it =>
      val vs = bankB.value.vecs
      val (fwdA, revA) = adjB.value
      val seen = new Array[Boolean](vs.length)
      var touched = new Array[Int](1024)
      val pool = Pool(k)
      it.flatMap { iL =>
        val i = iL.toInt
        var tn = 0
        @inline def add(c: Int): Unit =
          if (c != i && !seen(c)) {
            seen(c) = true
            if (tn == touched.length)
              touched = java.util.Arrays.copyOf(touched, tn << 1)
            touched(tn) = c; tn += 1
          }
        @inline def addAll(a: Csr, v: Int): Unit = {
          var p = a.heads(v); val e = a.heads(v + 1)
          while (p < e) { add(a.nbrs(p)); p += 1 }
        }
        addAll(fwdA, i)
        if (revA != null) {
          addAll(revA, i)
          val tn0 = tn // und(i) snapshot; i ∉ und(i) (no self-edges)
          var m = 0
          while (m < tn0) {
            val mid = touched(m)
            addAll(fwdA, mid); addAll(revA, mid)
            m += 1
          }
        }
        // rescore the candidate set through the pool
        pool.size = 0
        val sv = vs(i)
        var t = 0
        while (t < tn) {
          val c = touched(t)
          pool.insert(VecFold.l2(sv, vs(c)), c, asc = true)
          t += 1
        }
        t = 0
        while (t < tn) { seen(touched(t)) = false; t += 1 }
        val out = new Array[(Int, Int, Double)](pool.size)
        var j = 0
        while (j < pool.size) { out(j) = (i, pool.ids(j).toInt, pool.scores(j)); j += 1 }
        out.iterator
      }
    }.collect()
    adjB.unpersist(blocking = false)
    val src = new Array[Int](rows.length)
    val dst = new Array[Int](rows.length)
    val dist = new Array[Double](rows.length)
    var i = 0
    while (i < rows.length) {
      val r = rows(i); src(i) = r._1; dst(i) = r._2; dist(i) = r._3; i += 1
    }
    IdxEdges(src, dst, dist)
  }
}
