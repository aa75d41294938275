package graft

import graft.functions.Vec
import graft.operators.{BeamSearch, BruteForce, Ivf, TopK}
import graft.sources.SynthData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** The 1M-vector scale exercise (VERDICT r3 item 8 / r5 next-round
  * item 4): manufacture a deterministic clustered corpus ~500× the
  * sf0.1 vector table with SynthData.clustered, build the search
  * artifacts once (timed separately — the reference benches QPS
  * against a saved index, README_RoarGraph.md:19-56), then time the
  * search-side headliners against the persisted indexes and measure
  * recall@10 against a persisted exact groundtruth. Turns the "this
  * plan survives 100×" argument into a measurement (docs/scale_run.md
  * records the numbers + plan shapes).
  *
  * The corpus lands in the target dir as a standard `embeddings`
  * table (vec_id, embedding, label), so every catalog query runs
  * against it unchanged. Query rows keep the catalog's `vec_id % 50 =
  * 0` convention but their COUNT is decoupled from the base size: ids
  * j < nQ map to 50·j, base ids walk the non-multiples of 50
  * (j + j div 49 + 1) — 1M base vectors get nQ=1k queries, not 20k,
  * which is the reference's benchmark shape (bounded query set,
  * arbitrarily large base).
  *
  * Usage: runMain graft.ScaleRun [dir] [nBase] [nQueries]
  * Env: SPARK_GRAFT_CPUS (default 8), SPARK_GRAFT_SCALE_REPS (2).
  */
object ScaleRun {

  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/tmp/graft_scale/m1"
    val nBase = if (args.length > 1) args(1).toLong else 1000000L
    val nQ = if (args.length > 2) args(2).toLong else 1000L
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "2").toInt
    // corpus dimensionality (r9 verdict item 7: the reference's t2i
    // corpus is 200d; both prior scale runs were 64d). Every operator
    // downstream is dim-general — the LSH plane banks size themselves
    // from the corpus via Tables.embDim/Lsh.bandPlanesFor.
    val dim = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIM", "64").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = Tables.session("graft-scale", cpus)
    import org.apache.hadoop.fs.Path

    val out = new scala.collection.mutable.LinkedHashMap[String, Double]() {
      // print every metric as it lands — a killed run must not lose
      // the measurements that already completed
      override def addOne(kv: (String, Double)): this.type = {
        println(f"SCALE_METRIC ${kv._1}%s ${kv._2}%.3f")
        System.out.flush()
        super.addOne(kv)
      }
    }

    // ---- phase 1: corpus (write-once) ----
    val embPath = s"$dir/embeddings.parquet"
    val fs = new Path(embPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(embPath, "_SUCCESS"))) {
      val (_, tGen) = time {
        val raw = SynthData.clustered(spark, nBase + nQ, dim = dim, nModalities = 8, seed = 42L)
        // plant exact duplicates: ~1% of base rows copy their
        // successor's vector, so the near-dup operators have real work
        // and blocking recall is checkable (found == planted)
        val src = raw.select(col("vec_id").as("src_id"), col("embedding").as("src_emb"))
        raw.join(src, col("vec_id") + 1 === col("src_id"), "left")
          .select(
            expr(s"CAST(CASE WHEN vec_id < $nQ THEN vec_id * 50" +
              s" ELSE (vec_id - $nQ) + (vec_id - $nQ) div 49 + 1 END AS BIGINT)").as("vec_id"),
            when(col("vec_id") >= nQ && col("vec_id") % 101 === 0 && col("src_emb").isNotNull,
              col("src_emb")).otherwise(col("embedding")).as("embedding"),
            col("modality").cast("int").as("label"))
          .repartition(64)
          .write.mode("overwrite").parquet(embPath)
      }
      out += "gen_sec" -> tGen
    }
    val emb = Tables.t(spark, dir, "embeddings")
    val base = emb.filter(col("vec_id") % 50 =!= 0)
      .select(col("vec_id").as("bid"), col("embedding").as("bv"))
    val queries = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))

    // ---- phase 2: exact groundtruth (build-once artifact) ----
    val (gt, tGt) = time {
      graft.operators.ProjIndex.ensureTable(spark, dir, "gt_l2_k10") {
        BruteForce.topk(base, queries, "l2", 10)
          .select(col("qid"), col("rnk"), col("bid"))
      }.select(col("qid"), col("bid")).localCheckpoint()
    }
    out += "gt_build_sec" -> tGt
    val nGt = gt.count().toDouble
    val nQd = queries.count().toDouble

    def recallOf(top: DataFrame): Double =
      top.join(gt, Seq("qid", "bid")).count() / nGt

    // SPARK_GRAFT_SCALE_GRAPH_ONLY=1: skip the quantizer/PQ/dedup
    // families and measure just the graph-coverage experiment (used by
    // the 10x-training-queries follow-up corpus)
    val graphOnly = sys.env.get("SPARK_GRAFT_SCALE_GRAPH_ONLY").contains("1")

    // scale quantizer: DATA-SIZED like the catalog (Ivf.cellsFor — 256
    // at 1M, 1024 at 10M) and trained on the strided sample
    // (Ivf.sizedBuild) so the Lloyd rounds never scan N×cells; only
    // the one final assignment pass touches the full corpus
    val scaleCells = Ivf.cellsFor(nBase)
    lazy val ivfScale = {
      val (r, tIvfScale) = time {
        graft.operators.ProjIndex.ensureIvf(spark, dir, "scale", scaleCells, 2) {
          val (c, a, _) = Ivf.sizedBuild(
            base.select(col("bid").as("vec_id"), col("bv").as("embedding")), 2)
          (c, a)
        }
      }
      out += s"build_ivf${scaleCells}_sec" -> tIvfScale
      r
    }

    // SPARK_GRAFT_SCALE_PREBUILD=1: build only the graph-INDEPENDENT
    // artifacts (corpus, groundtruth, anchor + scale quantizers) and
    // exit — the expensive strategy-independent pieces can build in
    // the background while graph-side parameters are still being
    // iterated on; a later full run finds them ensured and skips them.
    if (sys.env.get("SPARK_GRAFT_SCALE_PREBUILD").contains("1")) {
      val (_, tAnchorP) = time { graft.queries.HnswQs.anchorIvf(spark, dir); () }
      out += "build_anchor_sec" -> tAnchorP
      ivfScale
      println("PREBUILD_DONE")
      System.out.flush()
      spark.stop()
      return
    }

    // ---- phase 3: index builds (timed, build-once) ----
    val (_, tRich) = time(noop(graft.queries.HnswQs.richGraph(spark, dir)))
    out += "build_rich_graph_sec" -> tRich
    val (_, tAnchor) = time { graft.queries.HnswQs.anchorIvf(spark, dir); () }
    out += "build_anchor_sec" -> tAnchor
    if (!graphOnly) {
      val (_, tProj) = time(noop(graft.operators.ProjIndex.ensureGraph(spark, dir) {
        graft.queries.VectorQs2.roarProjectionGraph.fn(spark, dir)
      }))
      out += "build_proj_graph_sec" -> tProj
      val (_, tIvf16) = time { graft.queries.VectorQs3.baseIvf(spark, dir); () }
      out += "build_ivf16_sec" -> tIvf16
      // scale-appropriate quantizer: cells ~ sqrt-ish of N (the
      // catalog's 16-cell build is sf-tuned; at 1M a probe must not
      // scan 25% of the base). Same operator, bigger k — identical plan.
      ivfScale
      val (_, tPq) = time { graft.queries.VectorQs3.pqIndex(spark, dir); () }
      out += "build_pq_sec" -> tPq
    }

    // ---- phase 4: searches (timed, reps, min reported; recall@10) ----
    def bench(name: String)(mk: => DataFrame): DataFrame = {
      var last: DataFrame = null
      val ts = (1 to reps).map { _ =>
        val (df, t) = time { val d = mk.localCheckpoint(); noop(d); d }
        last = df
        spark.catalog.clearCache()
        t
      }
      out += s"${name}_sec" -> ts.min
      last
    }

    if (!graphOnly) {
    val ivf4 = bench("ivf_search") {
      Catalog.queriesMap("ivf_search")(spark, dir).select(col("qid"), col("bid"))
    }
    out += "ivf_search_recall" -> recallOf(ivf4)
    val ivfA = bench("ivf_search_adaptive") {
      Catalog.queriesMap("ivf_search_adaptive")(spark, dir).select(col("qid"), col("bid"))
    }
    out += "ivf_search_adaptive_recall" -> recallOf(ivfA)
    val pq = bench("pq_search") {
      Catalog.queriesMap("pq_search")(spark, dir).select(col("qid"), col("bid"))
    }
    out += "pq_search_recall" -> recallOf(pq)
    val beam = bench("graph_beam_search") {
      Catalog.queriesMap("graph_beam_search")(spark, dir).select(col("qid"), col("bid"))
    }
    out += "graph_beam_search_recall" -> recallOf(beam)

    // scale quantizer searches: same Ivf.search plan, 256 cells
    Seq(4, 16).foreach { np =>
      val (c256, a256) = ivfScale
      val r = bench(s"ivf${scaleCells}_np$np") {
        Ivf.search(a256, c256, queries, nprobe = np, k = 10)
          .select(col("qid"), col("bid"))
      }
      out += s"ivf${scaleCells}_np${np}_recall" -> recallOf(r)
    }
    }

    // the high-recall graph operating point (round-6 rich graph):
    // hub + 3 anchor entries, ef=16, 5 rounds over erk<=32 edges
    {
      val richAll = graft.queries.HnswQs.richGraph(spark, dir)
        .select(col("src"), col("dst"), col("erk")).localCheckpoint()
      val rich = richAll.filter(col("erk") <= 32).select(col("src"), col("dst"))
      val entry = rich.groupBy(col("src")).agg(count(lit(1)).as("d"))
        .orderBy(col("d").desc, col("src")).head().getLong(0)
      val (cents8, _) = graft.queries.HnswQs.anchorIvf(spark, dir)
      val anchorNodes = BruteForce.topk(
        base, cents8.select(col("cid").as("qid"), col("cv").cast("array<float>").as("qv")),
        "l2", 1).select(col("bid")).distinct()
      val anchorRanked = TopK.perGroup(
        queries.crossJoin(broadcast(anchorNodes.join(base, Seq("bid"))))
          .select(col("qid"), col("bid"), Vec.l2Fast(col("qv"), col("bv")).as("d")),
        "qid", "bid", "d", 3, asc = true)
        .select(col("qid"), col("bid")).localCheckpoint()
      var visited = 0L
      if (!sys.env.get("SPARK_GRAFT_SCALE_SKIP_BASELINE").contains("1")) {
      val wide = bench("rich_wide_ef16") {
        val seeds = queries.select(col("qid")).withColumn("bid", lit(entry))
          .union(anchorRanked)
        val (res, vis) = BeamSearch.runCounted(rich, queries, base, seeds,
          ef = 16, rounds = 5)
        visited = vis.values.sum
        TopK.perGroup(res, "qid", "bid", "dist", 10, asc = true)
          .select(col("qid"), col("bid"))
      }
      out += "rich_wide_ef16_recall" -> recallOf(wide)
      out += "rich_wide_ef16_visited_per_q" -> visited / nQd
      }

      // measured follow-up (m2): 10x training queries lifted coverage
      // 48k -> ~400k nodes but recall only 0.447 -> 0.486 — the binding
      // constraint is ENTRY DISTANCE, not coverage: 8 anchor cells at
      // 1M seed the beam hops away from the target region, and an
      // anchor chosen as nearest-base-vector may not even be a graph
      // member (it then expands nothing). Scale rule measured here:
      // seed from a sqrt-N-ish quantizer (256 cells) restricted to
      // GRAPH MEMBERS, and let rounds grow with the graph diameter.
      val graphNodes = rich.select(col("src")).distinct()
      val memberBase = base.join(graphNodes, col("bid") === col("src"), "left_semi")
      val (c256s, _) = ivfScale
      val aN256 = BruteForce.topk(
        memberBase,
        c256s.select(col("cid").as("qid"), col("cv").cast("array<float>").as("qv")),
        "l2", 1).select(col("bid")).distinct()
      val qaDist = queries.crossJoin(broadcast(aN256.join(base, Seq("bid"))))
        .select(col("qid"), col("bid"), Vec.l2Fast(col("qv"), col("bv")).as("d"))
        .localCheckpoint()
      // operating-point sweep "anchors:ef:rounds[:deg]" — the 1M pair
      // (3:16:5, 3:16:9) stays the default so m1/m2 reproduce; the 10M
      // corpus needs a wider beam budget (anchors/ef/rounds grow with
      // the graph diameter, deg opens erk edges up to the stored 48)
      // and the visited-per-q ceiling is the reference's own band
      // (≤ ~0.1% of base, README_RoarGraph.md:56-112)
      val confs = sys.env.getOrElse("SPARK_GRAFT_SCALE_CONFS", "3:16:5,3:16:9")
        .split(",").map(_.trim).filter(_.nonEmpty).map { s =>
          val p = s.split(":").map(_.trim.toInt)
          (p(0), p(1), p(2), if (p.length > 3) p(3) else 32)
        }
      confs.foreach { case (na, ef, r, deg) =>
        val edges =
          if (deg == 32) rich
          else richAll.filter(col("erk") <= deg).select(col("src"), col("dst"))
        val aRk = TopK.perGroup(qaDist, "qid", "bid", "d", na, asc = true)
          .select(col("qid"), col("bid")).localCheckpoint()
        val tag = if (na == 3 && ef == 16 && deg == 32) s"rich_wide_ivfseed_r$r"
          else s"rich_wide_ivfseed_a${na}_ef${ef}_r${r}_deg$deg"
        var vis2 = 0L
        val w2 = bench(tag) {
          val seeds = queries.select(col("qid")).withColumn("bid", lit(entry))
            .union(aRk)
          val (res, v) = BeamSearch.runCounted(edges, queries, base, seeds,
            ef = ef, rounds = r)
          vis2 = v.values.sum
          TopK.perGroup(res, "qid", "bid", "dist", 10, asc = true)
            .select(col("qid"), col("bid"))
        }
        out += s"${tag}_recall" -> recallOf(w2)
        out += s"${tag}_visited_per_q" -> vis2 / nQd
      }
    }

    // embedding near-dup at scale: the catalog's 16-band×4-bit bank is
    // sf-tuned (16 buckets/band → every bucket caps out at 1M rows).
    // Three scale adaptations of the SAME operator shape, each one a
    // measured lesson (see docs/scale_run.md):
    // (a) regroup the 64-plane signature into LONGER bands at the
    //     expression level — one kernel pass either way. 4×16-bit was
    //     not enough: on a clustered corpus the cluster center freezes
    //     most sign bits cluster-wide, so 16-bit buckets still held
    //     O(cluster) rows and the pair join went quadratic. 2 bands ×
    //     32 bits leaves ~20 noise-driven bits per band even inside a
    //     tight cluster — buckets collapse to near-singletons while
    //     EXACT duplicates (identical vector → identical key) still
    //     collide in every band.
    // (b) CENTER the vectors first (subtract the global mean):
    //     hyperplanes through the origin barely split a tight
    //     off-origin cluster; centering un-freezes the bits the
    //     cluster offset saturates.
    // (c) a per-bucket ceiling (10k here) bounds the worst bucket's
    //     self-join no matter how degraded the blocking is.
    if (!graphOnly) {
      val bc = org.apache.spark.sql.graftbridge.Bridge
      val theta = 0.985
      val mean = emb.select(
        (0 until dim).map(d => avg(element_at(col("embedding"), d + 1)).as(s"m$d")): _*)
        .head()
      val meanArr = array((0 until dim).map(d => lit(mean.getDouble(d))): _*)
      val nd = bench("dedup_embedding_32bit") {
        val centered = emb.select(col("vec_id"), col("embedding"),
          zip_with(col("embedding").cast("array<double>"), meanArr, (x, m) => x - m).as("cv"))
        val sigs = centered.select(col("vec_id"), col("embedding"),
          bc.column(graft.functions.LshBandKeys(bc.expr(col("cv")), dim = dim)).as("ks"))
          .localCheckpoint()
        val wide = sigs.select(col("vec_id"), col("embedding"),
          explode(expr("transform(sequence(0, 1), b -> named_struct('band_idx', b, " +
            "'bkey', CAST(ks[b*8] AS BIGINT)*268435456 + ks[b*8+1]*16777216 + " +
            "ks[b*8+2]*1048576 + ks[b*8+3]*65536 + ks[b*8+4]*4096 + " +
            "ks[b*8+5]*256 + ks[b*8+6]*16 + ks[b*8+7]))")).as("w"))
          .select(col("vec_id"), col("embedding"),
            col("w.band_idx").as("band_idx"), col("w.bkey").as("bkey"))
          .withColumn("brn", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("band_idx"), col("bkey")).orderBy(col("vec_id"))))
          .filter(col("brn") <= 10000)
          .drop("brn")
        val cand = wide.as("x").join(wide.as("y"),
            col("x.band_idx") === col("y.band_idx") &&
            col("x.bkey") === col("y.bkey") &&
            col("x.vec_id") < col("y.vec_id"))
          .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"),
            Vec.cosineFast(col("x.embedding"), col("y.embedding")).as("cos"))
        cand.filter(col("cos") >= theta).distinct()
      }
      out += "dedup_embedding_32bit_pairs" -> nd.count().toDouble
    }

    out += "n_base" -> nBase.toDouble
    out += "n_queries" -> nQd
    out += "reps" -> reps.toDouble
    val json = out.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    println(s"""SCALE_RUN $json""")
    System.out.flush()
    spark.stop()
  }
}
