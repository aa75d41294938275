package graft

import graft.functions.Vec
import graft.operators.{BeamSearch, BruteForce, Ivf, TopK}
import graft.sources.SynthData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** The protocol-valid held-out frontier experiment (round 11 — VERDICT
  * r10 "Next round" item 1).
  *
  * Round 10's held-out probe discovered the projection graph MEMORIZES
  * its training queries (10M: 0.9999 in-sample vs 0.186 held-out at
  * 0.001 training queries per base vector), which invalidated every
  * prior repo-vs-reference frontier row: the reference's t2i table is
  * held-out, bought with |Qtrain| = N training queries
  * (query.train.10M.fbin, README_RoarGraph.md:15-30, 56-112). The
  * matched-density defense existed only at 250k (m5). This main runs
  * the experiment that settles it at ≥ 1M:
  *
  *   m6 = 1M base × 500k TRAINING queries (|Qtrain|/N = 0.5, m5's
  *   density shape) + a disjoint held-out eval split, swept over
  *   ef × rounds to produce a held-out recall-vs-visited CURVE
  *   through the catalog's routed-search configuration (hub + anchor
  *   entries, rich ∪ cellKnn union graph — HnswQs3.routedSearch's
  *   exact shape). An in-sample slice of the same size runs each
  *   point too, so every row carries its own generalization gap.
  *
  * The 500k×1M training-list build is feasible in-sandbox only
  * because round 11 kernelized richGraphFrom's member-kNN stage (the
  * joins form pushed 4.6e9 rows through a window sort — more spill
  * than the sandbox disk).
  *
  * Usage: runMain graft.HeldoutCurve <dir> [nBase] [nTrain] [nEval]
  *   [confs] [nClusters] [dim] [gen] [drift]
  *   confs = "ef:rounds[:deg[:ents[:aq[:tl[:tu]]]]],..." (default the
  *   ef∈{8,16,32} sweep)
  * Env: SPARK_GRAFT_CPUS (default 8; SPARK_DRIVER_MEM must cover
  * nTrain-sized brute-force pools — 48g at 500k).
  */
object HeldoutCurve {

  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: HeldoutCurve <dir> [nBase] [nTrain] [nEval] [confs]")
    val dir = args(0)
    val nBase = if (args.length > 1) args(1).toLong else 1000000L
    val nTrain = if (args.length > 2) args(2).toLong else 500000L
    val nEval = if (args.length > 3) args(3).toLong else 2000L
    // ef:rounds[:deg[:ents[:aqCells[:tl]]]] — aqCells > 0 replaces the
    // scale-quantizer anchors with a FINER entry quantizer of that
    // many cells (protocol-valid: no training-query information; the
    // closer the seed, the less navigation the beam must do);
    // aqCells = -1 auto-resolves the depth from the corpus via
    // Ivf.entryLadder/entryCellsFor (lesson 42's pre-flight as a rule).
    // tl > 0 = TWO-LEVEL seed selection (round 12 measurement of the
    // anchor-scan cost asymmetry): coarse-quantize the anchor bank to
    // ~√aq cells and scan only the anchors in the query's top-tl
    // coarse cells, instead of the full-bank linear scan — O(√aq·tl)
    // seed evals at slightly approximate seeding. tl = 0 is the exact
    // full-scan control (the catalog's shape).
    // tu > 0 = train the rich graph on only the FIRST tu training
    // queries (prefix subset of the persisted lists) — the density-law
    // knob (m11): sweep tu at fixed corpus/eval/budget to measure
    // held-out recall and the generalization gap vs training density.
    // tu = 0 (default) uses all nTrain queries.
    val confs = (if (args.length > 4) args(4)
      else "8:5,8:9,16:5,16:9,32:9,32:13")
      .split(",").map(_.trim).filter(_.nonEmpty).map { s =>
        val p = s.split(":").map(_.trim.toInt)
        (p(0), p(1), if (p.length > 2) p(2) else 32, if (p.length > 3) p(3) else 8,
          if (p.length > 4) p(4) else 0, if (p.length > 5) p(5) else 0,
          if (p.length > 6) p(6) else 0)
      }
    // fail a misconfigured sweep HERE, not an hour into phase 4 after
    // the corpus/groundtruth/list builds (ADVICE r13 2): the insample
    // slice is the first nEval TRAINING queries, so a positive tu
    // below nEval would silently measure partially-untrained queries
    // under the "insample" label
    confs.foreach { case (ef, rounds, _, _, _, _, tu) =>
      require(ef > 0 && rounds > 0, s"bad conf ef=$ef rounds=$rounds")
      require(tu <= 0 || tu >= nEval,
        s"tu=$tu in (0, nEval=$nEval) would mislabel the insample row")
    }
    // cluster count for the generated corpus (m6 = 8, the reference's
    // synthetic default — isotropic 64d inside each cluster; m7 = 4096
    // to give neighborhoods genuine local structure like real
    // embedding manifolds)
    val nModalities = if (args.length > 5) args(5).toInt else 8
    // corpus dimensionality (m8 runs the structured-control protocol
    // at the reference's 200d)
    val dim = if (args.length > 6) args(6).toInt else 64
    // corpus generator: "gauss" = SynthData.clustered (m5–m9),
    // "hostile" = clusteredHostile (round 12 — heteroscedastic,
    // mixed-size, correlated-dimension clusters stressing the entry
    // resolver's calibration)
    val gen = if (args.length > 7) args(7) else "gauss"
    val nQ = nTrain + nEval
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = Tables.session("graft-heldout-curve", cpus)
    import org.apache.hadoop.fs.Path

    // ---- phase 1: corpus (ScaleRun's exact generator + id mapping,
    // nQ sized for the training density) ----
    val embPath = s"$dir/embeddings.parquet"
    val fs = new Path(embPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(embPath, "_SUCCESS"))) {
      val (_, tGen) = time {
        val raw = (if (gen == "hostile") SynthData.clusteredHostile _
          else SynthData.clustered _)(spark, nBase + nQ, dim, nModalities, 42L)
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
      println(f"HELDOUT_CURVE gen_sec=$tGen%.1f")
    }
    val emb = Tables.t(spark, dir, "embeddings")
    val base = emb.filter(col("vec_id") % 50 =!= 0)
      .select(col("vec_id").as("bid"), col("embedding").as("bv"))
    // the 1M×64d corpus is ~300 MB → ~3 parquet scan splits, which
    // would serialize the 5e11-eval training-list scan; spread the
    // base across the cores once (BruteForce pools merge identically
    // under any partitioning, and more partitions only add
    // partitions×|Q|×k pooled rows — 24×500k×48 is well inside the
    // TopKAgg merge budget)
    val baseR = base.repartition(cpus.toInt).localCheckpoint()
    val q = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    // SynthData vectors are hash-derived from vec_id, so an id-range
    // split is as unbiased as a modulo one; eval ids never enter the
    // training lists
    val qTrain = q.filter(col("qid") / 50 < nTrain)
    val qEval = q.filter(col("qid") / 50 >= nTrain)
    // the in-sample comparison slice: the first nEval TRAINING queries
    // (same size as the eval split, so the printed pair is the gap)
    val qIns = q.filter(col("qid") / 50 < nEval)

    // ---- phase 2: exact groundtruth for the two measured splits ----
    val (gtEval, tGtE) = time {
      graft.operators.ProjIndex.ensureTable(spark, dir, "gt_l2_k10_eval") {
        BruteForce.topk(baseR, qEval, "l2", 10)
          .select(col("qid"), col("rnk"), col("bid"))
      }.select(col("qid"), col("bid")).localCheckpoint()
    }
    val (gtIns, tGtI) = time {
      graft.operators.ProjIndex.ensureTable(spark, dir, "gt_l2_k10_ins") {
        BruteForce.topk(baseR, qIns, "l2", 10)
          .select(col("qid"), col("rnk"), col("bid"))
      }.select(col("qid"), col("bid")).localCheckpoint()
    }
    println(f"HELDOUT_CURVE gt_eval_sec=$tGtE%.1f gt_ins_sec=$tGtI%.1f")
    System.out.flush()

    // ---- phase 2b: drift-eval variants (m13) — the reference's
    // setting is OUT-OF-DISTRIBUTION queries (t2i: text queries over
    // an image base; README_RoarGraph.md's tables are all
    // cross-modal), while qEval above draws from the training
    // distribution. Each variant replaces the eval split with drifted
    // queries and recomputes exact groundtruth; the graph, anchors
    // and seed substrate stay fixed, so the rows isolate pure
    // query-drift robustness. Variants (arg 9, comma list):
    //   dNN  = push each eval query a fixed TOTAL norm NN/100 off its
    //          position along a deterministic hash direction, then
    //          re-normalize. cos(q,q') = 1/sqrt(1+sigma^2) holds in
    //          EXPECTATION only — g is not orthogonalized against qv,
    //          so each query carries an O(sigma/sqrt(d)) spread around
    //          that value (ADVICE r13 4; the docs' quoted cosines are
    //          the 64d expectations, not per-query measurements)
    //   xgen = nEval queries from the HOSTILE generator — a different
    //          manifold entirely; ids disjoint from the corpus
    val driftVariants: Seq[(String, DataFrame)] = {
      import spark.implicits._
      (if (args.length > 8) args(8) else "")
        .split(",").map(_.trim).filter(_.nonEmpty).toSeq.map {
          case "xgen" =>
            val dfv = SynthData.clusteredHostile(spark, nEval, dim, 64, 4242L)
              .select((col("vec_id") + lit(1000000000000L)).as("qid"),
                col("embedding").as("qv"))
            ("xgen", dfv.localCheckpoint())
          case v if v.startsWith("d") && v.drop(1).forall(_.isDigit) =>
            // shared construction (operators.QueryDrift since round 14
            // — the sweep's eval_dist rows use the identical kernel;
            // QueryDriftSpec pins the refactor bit-for-bit against the
            // original inline math, so the m13 numbers stay valid)
            val dfv = graft.operators.QueryDrift.dNN(
              qEval, graft.operators.QueryDrift.sigmaOf(v))
            (v, dfv.localCheckpoint())
          case other => sys.error(s"unknown drift variant $other")
        }
    }
    val driftGt: Seq[(String, DataFrame, DataFrame)] =
      driftVariants.map { case (v, qs) =>
        val (g, tG) = time {
          graft.operators.ProjIndex.ensureTable(spark, dir, s"gt_l2_k10_ev_$v") {
            BruteForce.topk(baseR, qs, "l2", 10)
              .select(col("qid"), col("rnk"), col("bid"))
          }.select(col("qid"), col("bid")).localCheckpoint()
        }
        println(f"HELDOUT_CURVE gt_drift_${v}%s_sec=$tG%.1f")
        System.out.flush()
        (v, qs, g)
      }

    // ---- phase 3: artifacts (train-split graph + the catalog's
    // routed substrate) ----
    val n = Tables.baseCount(spark, dir)
    val kk = queries.HnswQs.richKFor(n)
    // the training-list scan is the build's long pole (N·|Qtrain|
    // distance evals) — persist it so selection-rule iterations don't
    // re-pay it, and size it to the LARGEST prefix any conf actually
    // trains on (round 14): a knee-density run (tu = N/32) must not
    // pay the full matched-density scan it exists to avoid. Lists are
    // per-query independent, so the q${tuMax} table is itself a valid
    // prefix of the matched-density one; when every conf is
    // xgen-trained (tu < 0) no clean lists are built at all.
    val tuMax: Long = {
      val eff = confs.toSeq.map(_._7.toLong).filter(_ >= 0L)
        .map(tu => if (tu == 0L || tu > nTrain) nTrain else tu)
      if (eff.isEmpty) 0L else eff.max
    }
    val lists: Option[DataFrame] = if (tuMax > 0L) {
      val (l, tLists) = time {
        graft.operators.ProjIndex.ensureTable(spark, dir,
          s"train_lists_q${tuMax}_k$kk") {
          graft.operators.BruteForce.topk(baseR,
            qTrain.filter(col("qid") / 50 < tuMax), "l2", kk)
            .select(col("qid"), col("rnk").cast("int").as("rnk"), col("bid"))
        }
      }
      println(f"HELDOUT_CURVE train_lists_sec=$tLists%.1f (tu_max=$tuMax%d)")
      System.out.flush()
      Some(l)
    } else None
    // xgen training lists (m13b/m13c): same prefix-subset economics —
    // clusteredHostile vectors are pure functions of (seed, id, dim),
    // so the size-s training set is the id-prefix of the largest one;
    // ONE persisted scan at the max requested size serves the whole
    // OOD density ladder. (Pre-r15 nEval-blind xgen tags are orphaned
    // by the _e tag fix below — deterministic rebuilds, never loaded.)
    val xgenMax: Long = {
      val sizes = confs.toSeq.map(_._7.toLong).filter(_ < 0L)
        .map(tu => if (tu == -1L) math.max(nBase / 32L, 2000L) else -tu)
      if (sizes.isEmpty) 0L else sizes.max
    }
    lazy val qXAll = SynthData.clusteredHostile(spark, xgenMax + nEval, dim, 64, 4242L)
      .filter(col("vec_id") >= nEval)
      .select((col("vec_id") + lit(1000000000000L)).as("qid"),
        col("embedding").as("qv"))
    // the xgen artifact tags carry nEval (ADVICE r14): qXAll's id range
    // is [nEval, xgenMax+nEval) — a rerun with a different nEval is a
    // DIFFERENT query set, and richGraphFrom trusts fed lists wholesale
    // (it never re-intersects them with the queries arg), so an
    // nEval-blind tag would silently train on the wrong prefix
    val xlists: Option[DataFrame] = if (xgenMax > 0L) {
      val (l, tX) = time {
        graft.operators.ProjIndex.ensureTable(spark, dir,
          s"xgen_lists_q${xgenMax}_e${nEval}_k$kk") {
          graft.operators.BruteForce.topk(baseR, qXAll, "l2", kk)
            .select(col("qid"), col("rnk").cast("int").as("rnk"), col("bid"))
        }
      }
      println(f"HELDOUT_CURVE xgen_lists_sec=$tX%.1f (xgen_max=$xgenMax%d)")
      System.out.flush()
      Some(l)
    } else None
    // _occ: dense-gated occlusion selection (round 11) — a new tag so
    // the pre-occlusion m6 graph can't alias the new build.
    // Density-law mode (round 13, m11): the conf's tu field trains the
    // graph on only the FIRST tu training queries — a prefix subset of
    // the one persisted list build (lists are per-query independent,
    // so a qid-prefix filter IS the smaller build), holding corpus,
    // eval split, groundtruth, ladder and anchors fixed. One corpus +
    // one 5e11-eval list scan thus yields the whole density →
    // generalization-gap curve; only the rich graph rebuilds per tu.
    val richCache = scala.collection.mutable.HashMap.empty[Long, DataFrame]
    def richFor(tu0: Long): DataFrame = {
      if (tu0 < 0L) return richCache.getOrElseUpdate(tu0, {
        // tu = -1: the cross-distribution training control (m13b) —
        // train the graph on XGEN-manifold queries (the drift
        // variant's generator, ids disjoint from its eval split) at
        // the density-law knee N/32. Together with a clean-trained
        // conf at the same |Qtrain| this completes the train/eval
        // distribution matrix: the reference's whole design premise
        // is that the projection graph must be trained on
        // serving-distribution queries (README_RoarGraph.md's
        // cross-modal tables), and the law makes the matched-
        // distribution build affordable.
        // tu = -1 sizes at the density-law knee; tu < -1 is an
        // explicit xgen training-set size (-tu), for the OOD density
        // ladder (is the matched-xgen ceiling a density artifact?)
        val nX = if (tu0 == -1L) math.max(nBase / 32L, 2000L) else -tu0
        // the size-nX training set is the id-prefix of qXAll (ids
        // [nEval, nX+nEval) shifted by 1e12) — filter queries AND the
        // shared persisted lists to that prefix
        val hi = 1000000000000L + nEval + nX
        val qX = qXAll.filter(col("qid") < hi)
        val (r, tRich) = time {
          graft.operators.ProjIndex.ensureTable(spark, dir,
            s"rich_proj_xgen${nX}_e${nEval}_occ${queries.HnswQs.RichOccPool}_k${kk}_m16_d48") {
            queries.HnswQs.richGraphFrom(baseR, qX, "l2", kk,
              xlists.map(_.filter(col("qid") < hi)))
          }
        }
        println(f"HELDOUT_CURVE rich_graph_sec=$tRich%.1f (xgen-trained |Q|=$nX%d, k=$kk)")
        System.out.flush()
        r
      })
      val tu = if (tu0 <= 0L || tu0 > nTrain) nTrain else tu0
      require(tu <= tuMax && lists.nonEmpty,
        s"clean-trained conf tu=$tu but lists were built to tuMax=$tuMax")
      richCache.getOrElseUpdate(tu, {
        val (r, tRich) = time {
          graft.operators.ProjIndex.ensureTable(spark, dir,
            s"rich_proj_train${tu}_occ${queries.HnswQs.RichOccPool}_k${kk}_m16_d48") {
            queries.HnswQs.richGraphFrom(baseR,
              qTrain.filter(col("qid") / 50 < tu), "l2", kk,
              Some(lists.get.filter(col("qid") / 50 < tu)))
          }
        }
        println(f"HELDOUT_CURVE rich_graph_sec=$tRich%.1f (|Qtrain_use|=$tu%d, k=$kk)")
        System.out.flush()
        r
      })
    }
    val cells = Ivf.cellsFor(n)
    val (_, tIvf) = time {
      graft.operators.ProjIndex.ensureIvf(spark, dir, "scale", cells, 2) {
        val (c, a, _) = Ivf.sizedBuild(
          base.select(col("bid").as("vec_id"), col("bv").as("embedding")), 2)
        (c, a)
      }
    }
    val (ck, tCk) = time {
      queries.HnswQs3.cellKnn(spark, dir).select(col("src"), col("dst")).localCheckpoint()
    }
    println(f"HELDOUT_CURVE scale_ivf_sec=$tIvf%.1f cell_knn_sec=$tCk%.1f")
    System.out.flush()

    // routed entries: nearest base node per scale-quantizer cell (the
    // catalog convention)
    val (cents, _) = graft.operators.ProjIndex.ensureIvf(spark, dir, "scale", cells, 2)(
      sys.error("unreachable — ensured above"))
    val anchorNodes = BruteForce.topk(
      baseR,
      cents.select(col("cid").as("qid"), col("cv").cast("array<float>").as("qv")),
      "l2", 1).select(col("bid")).distinct()
    val anchorBase = anchorNodes.join(base, Seq("bid")).localCheckpoint()

    // finer entry quantizers on demand (aq conf field): stride-trained
    // k-means at an explicit cell count + nearest-base anchor per cell;
    // aq = -1 resolves the depth from the corpus's own error ladder
    lazy val autoAq = {
      // the persisted-artifact form (entry_ladder table): at 10M the
      // ladder is a multi-k-means build — a re-invocation on warm
      // artifacts must load it, not re-measure it
      val lad = queries.HnswQs3.entryLadderTable(spark, dir)
      val r = Ivf.entryCellsFor(lad, dim)
      println(s"HELDOUT_CURVE entry_ladder=${lad.map { case (c, d) =>
        f"$c%d:$d%.6f" }.mkString(",")} resolved_aq=$r")
      r
    }
    val entryAnchors = scala.collection.mutable.HashMap.empty[Int, DataFrame]
    def anchorsFor(aq0: Int): DataFrame = {
      val aq = if (aq0 == -1) autoAq else aq0
      entryAnchors.getOrElseUpdate(aq, {
      val (centsQ, _) = graft.operators.ProjIndex.ensureIvf(spark, dir, s"entry$aq", aq, 2) {
        val embB = base.select(col("bid").as("vec_id"), col("bv").as("embedding"))
        val stride = Ivf.trainStrideFor(n, aq)
        val train = if (stride <= 1L) embB else embB.filter(col("vec_id") % stride === 0)
        val c = Ivf.centroids(train, aq, 2).localCheckpoint()
        (c, Ivf.assign(embB, c))
      }
      BruteForce.topk(
        baseR,
        centsQ.select(col("cid").as("qid"), col("cv").cast("array<float>").as("qv")),
        "l2", 1).select(col("bid")).distinct()
        .join(base, Seq("bid")).localCheckpoint()
      })
    }

    // two-level seed-selection substrate, built once per (aq, cc):
    // coarse k-means over the ANCHOR BANK itself (not the base), each
    // anchor tagged with its coarse cell — query-time scans cc coarse
    // centroids + the anchors of the top-tl cells only
    // (operators.SeedSelect — wired into the catalog in round 13;
    // this conf field remains the sweep knob over the same code).
    // The cache key is the RESOLVED depth like entryAnchors' (a sweep
    // mixing aq=-1 with its resolved value must not build the same
    // coarse k-means twice — ADVICE r12 3); the fourth element is the
    // REALIZED centroid count (k-means emits fewer than cc on banks
    // smaller than cc — ADVICE r12 4), which seed_evals reports.
    val coarseCache = scala.collection.mutable.HashMap.empty[Int, (DataFrame, DataFrame, Int, Long)]
    def coarseFor(aq0: Int, aB: DataFrame): (DataFrame, DataFrame, Int, Long) = {
      val aq = if (aq0 == -1) autoAq else aq0
      coarseCache.getOrElseUpdate(aq, {
        val (coarse, aCells, cc) = graft.operators.SeedSelect.coarseBank(aB)
        (coarse, aCells, cc, coarse.count())
      })
    }

    // ---- phase 4: the sweep ----
    def run(tag: String, qs: DataFrame, gt: DataFrame,
        ef: Int, rounds: Int, deg: Int, ents: Int, aq: Int, tl: Int,
        tu: Int): Unit = {
      // the insample slice is the first nEval TRAINING queries — a tu
      // below that would silently measure partially-untrained queries
      // under the "insample" label
      require(tu <= 0 || tu >= nEval,
        s"tu=$tu < nEval=$nEval would mislabel the insample row")
      // Populate the memoized cross-run state (anchor bank, coarse
      // bank) BEFORE the keep snapshot below — their checkpointed
      // blocks must survive this run (later confs reuse them, and a
      // localCheckpoint whose blocks are dropped cannot recompute).
      val aB = if (aq != 0) anchorsFor(aq) else anchorBase
      if (tl > 0) coarseFor(aq, aB)
      // Everything persisted from here on is per-run transient state
      // (richFor's on-miss build internals land back in a parquet
      // artifact, so its checkpoints are transient too). At 10M each
      // run's union-graph checkpoint alone is several GB of
      // block-manager heap and the beam adds per-round blocks; six
      // accumulated runs OOM'd a 64g driver (round 15 — lesson 34
      // applied to the harness). Drop the new blocks at run end.
      val keepRdds = spark.sparkContext.getPersistentRDDs.keySet
      val richE = richFor(tu.toLong).filter(col("erk") <= deg)
        .select(col("src"), col("dst"))
      val edges = richE.union(ck)
        .union(ck.select(col("dst").as("src"), col("src").as("dst")))
        .localCheckpoint()
      val entry = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
        .orderBy(col("d").desc, col("src")).head().getLong(0)
      val nQs = qs.count().toDouble
      val ss = graft.operators.SeedSelect
      val (aRk, seedEvals) = if (tl > 0) {
        val (coarse, aCells, _, ccReal) = coarseFor(aq, aB)
        val cand = ss.twoLevelScored(qs, coarse, aCells, tl).localCheckpoint()
        val scanned = cand.count() / nQs
        (ss.pick(cand, ents).localCheckpoint(), ccReal + scanned)
      } else {
        (ss.pick(ss.exactScored(qs, aB), ents).localCheckpoint(),
          aB.count().toDouble)
      }
      val seeds = qs.select(col("qid")).withColumn("bid", lit(entry)).union(aRk)
      val t1 = System.nanoTime()
      val (res, vis) = BeamSearch.runFromSeedsCounted(edges, qs, base, seeds, ef, rounds)
      val top = TopK.perGroup(res, "qid", "bid", "dist", 10, asc = true)
        .select(col("qid"), col("bid")).localCheckpoint()
      val sec = (System.nanoTime() - t1) / 1e9
      val nGt = gt.count().toDouble
      val recall = top.join(gt, Seq("qid", "bid")).count() / nGt
      val tuEff =
        if (tu < 0) tu.toLong
        else if (tu == 0 || tu.toLong > nTrain) nTrain
        else tu.toLong
      println(f"HELDOUT_CURVE $tag%s ef=$ef%d rounds=$rounds%d deg=$deg%d ents=$ents%d " +
        f"aq=$aq%d tl=$tl%d tu=$tuEff%d nq=${nQs.toLong}%d recall=$recall%.4f visited_per_q=${vis / nQs}%.1f " +
        f"visited_pct=${100.0 * vis / nQs / n}%.4f seed_evals_per_q=$seedEvals%.1f sec=$sec%.1f")
      System.out.flush()
      // drop this run's transient checkpoint blocks (see keepRdds
      // above); results are already reduced to the printed row.
      // blocking = true: async removal futures left in flight by the
      // LAST run race spark.stop()'s pool shutdown and wedge the JVM
      // (measured — the m14 resume hung after its final row)
      spark.sparkContext.getPersistentRDDs.foreach { case (id, r) =>
        if (!keepRdds.contains(id)) r.unpersist(blocking = true)
      }
    }

    confs.foreach { case (ef, rounds, deg, ents, aq, tl, tu) =>
      run("heldout", qEval, gtEval, ef, rounds, deg, ents, aq, tl, tu)
      // for an xgen-trained graph (tu < 0) the qIns slice is clean
      // TRAINING-split queries the graph never saw — a genuine
      // measurement (the m13b matrix's xgen-trained×clean-eval cell)
      // but NOT in-sample; tag it honestly (ADVICE r13 1)
      run(if (tu < 0) "cleanq" else "insample",
        qIns, gtIns, ef, rounds, deg, ents, aq, tl, tu)
      driftGt.foreach { case (v, qs, g) =>
        run(s"drift_$v", qs, g, ef, rounds, deg, ents, aq, tl, tu)
      }
    }
    spark.stop()
  }
}
