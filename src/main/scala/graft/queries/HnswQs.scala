package graft.queries

import graft.functions.Vec
import graft.operators.{BeamSearch, BruteForce, Ivf, TopK}
import graft.{Q, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Family A completion: the HNSW-shaped surface of the reference
  * (hnsw_cosine*.py) re-expressed as batch operators — layered graph
  * build, attribute-filtered search, multi-entry search, and the
  * recall-vs-parameter evaluation sweep. */
object HnswQs {

  private[graft] val MaxLevel = 2
  private[graft] val LevelK = 4

  /** Geometric level assignment with integer ops only (portable to the
    * oracle): level = number of trailing base-4 "zero digits" of a
    * 31-bit md5-derived hash — P(level ≥ l) = 4^-l, the reference's
    * geometric _assign_level (hnsw_cosine_status_high.py:112-119) with
    * m_L = 1/ln(4), minus engine-dependent log/rng. */
  private[graft] def levelCol(id: Column): Column = {
    val h = conv(substring(md5(id.cast("string")), 1, 15), 16, 10)
      .cast("long").bitwiseAND(lit(0x7fffffffL))
    (1 to MaxLevel).foldLeft(lit(0)) { (acc, l) =>
      when(h % lit(math.pow(4, l).toLong) === 0, lit(l)).otherwise(acc)
    }
  }

  private[queries] def sqlLevel(id: String): String = {
    val h = s"(('0x' || substr(md5(CAST($id AS VARCHAR)), 1, 15))::BIGINT & 2147483647)"
    (1 to MaxLevel).foldLeft("0") { (acc, l) =>
      s"CASE WHEN $h % ${math.pow(4, l).toLong} = 0 THEN $l ELSE $acc END"
    }
  }

  /** Multi-level kNN edge table: nodes with level ≥ l form layer l's
    * graph (k=4, L2) — the HNSW build artifact as one DataFrame. */
  val hnswLayers = Q(
    "hnsw_layers",
    (s, dir) => {
      val emb = Tables.t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"), levelCol(col("vec_id")).as("lvl"))
      // round 16 (guide §2.6): BruteForce.topk collects its query side
      // at CONSTRUCTION — four sequential driver actions before the
      // union even runs. The levels are independent; fork them (each
      // fork reads only the stateless table scan).
      graft.operators.Par.withPool { pp =>
        (0 to MaxLevel).map { l => pp.fork {
          val nodes = emb.filter(col("lvl") >= l)
          BruteForce.topk(
            nodes.select(col("vec_id").as("bid"), col("embedding").as("bv")),
            nodes.select(col("vec_id").as("qid"), col("embedding").as("qv")),
            "l2", LevelK, excludeSelf = true)
            .select(lit(l).as("level"), col("qid").as("src"), col("rnk"),
              col("bid").as("dst"), col("score").as("dist"))
        } }.map(_()).reduce(_.union(_))
          .orderBy(col("level"), col("src"), col("rnk"))
      }
    },
    Some {
      val levels = (0 to MaxLevel).map { l =>
        s"""
        SELECT $l AS level, src, rnk, dst, dist FROM (
          SELECT a.vec_id AS src, b.vec_id AS dst,
                 sqrt(${Vec.sqlL2sq("a.v", "b.v")}) AS dist,
                 CAST(ROW_NUMBER() OVER (PARTITION BY a.vec_id
                      ORDER BY sqrt(${Vec.sqlL2sq("a.v", "b.v")}) ASC, b.vec_id) AS INT) AS rnk
          FROM lv a CROSS JOIN lv b
          WHERE a.lvl >= $l AND b.lvl >= $l AND a.vec_id <> b.vec_id)
        WHERE rnk <= $LevelK"""
      }.mkString(" UNION ALL ")
      s"""
      WITH lv AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                         ${sqlLevel("vec_id")} AS lvl
                  FROM embeddings)
      SELECT * FROM ($levels)
      ORDER BY level, src, rnk
      """
    })

  /** Attribute-filtered exact top-k: search restricted to base rows
    * whose label matches the query's — the reference's allowed-subset
    * search (hnsw_cosine_status_high.py:121-233
    * select_candidate_ids/_search_layer_allowed) in its exact form. */
  val filteredTopk = Q(
    "filtered_topk",
    (s, dir) => {
      val emb = Tables.t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("label").as("lbl"))
      val b = emb.filter(col("vec_id") % 50 =!= 0)
        .select(col("vec_id").as("bid"), col("embedding").as("bv"), col("label").as("lbl"))
      val scored = b.join(broadcast(q), Seq("lbl"))
        .select(col("qid"), col("bid"), Vec.cosineFast(col("qv"), col("bv")).as("score"))
      TopK.perGroup(scored, "qid", "bid", "score", 5, asc = false)
        .orderBy(col("qid"), col("rnk"))
    },
    Some(s"""
      WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv, label FROM embeddings WHERE vec_id % 50 = 0),
           b AS (SELECT vec_id AS bid, embedding::DOUBLE[] AS bv, label FROM embeddings WHERE vec_id % 50 <> 0),
           sc AS (SELECT qid, bid, ${Vec.sqlCosine("qv", "bv")} AS score
                  FROM b JOIN q USING (label)),
           r AS (SELECT qid, bid, score,
                        CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, bid) AS INT) AS rnk
                 FROM sc)
      SELECT qid, rnk, bid, score FROM r WHERE rnk <= 5
      ORDER BY qid, rnk
    """))

  /** Layer-1 node set (level ≥ 1 base vectors) shared by the layered
    * operators. */
  private def l1Nodes(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "embeddings")
      .filter(col("vec_id") % 50 =!= 0)
      .select(col("vec_id"), col("embedding"), levelCol(col("vec_id")).as("lvl"))
      .filter(col("lvl") >= 1)
      .select(col("vec_id").as("bid"), col("embedding").as("bv"))

  /** Persisted layer-1 kNN adjacency (k=4, L2) — the graph that
    * bridge_edges augments. Build-once/load-many: the inline all-pairs
    * self-join over every layer-1 node (~N/4 of the base) was the one
    * quadratic recompute left on a search path (VERDICT r3 item 3);
    * search/augment queries must load the artifact, exactly like
    * graph_beam_search loads the projection graph. */
  def l1KnnEdges(s: SparkSession, dir: String): DataFrame =
    graft.operators.ProjIndex.ensureTable(s, dir, "l1_knn_k4") {
      val l1 = l1Nodes(s, dir)
      BruteForce.topk(
        l1, l1.select(col("bid").as("qid"), col("bv").as("qv")),
        "l2", LevelK, excludeSelf = true)
        .select(col("qid").as("esrc"), col("rnk"), col("bid").as("edst"),
          col("score").as("dist"))
    }

  /** Persisted per-query top-10 layer-1 cosine neighbors — the bridge
    * candidate lists (build-once; the exact scan is the oracle form,
    * the scale path would seed these from the ANN searchers). */
  def l1QueryTop10(s: SparkSession, dir: String): DataFrame =
    graft.operators.ProjIndex.ensureTable(s, dir, "l1_qtop10") {
      val emb = Tables.t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      BruteForce.topk(l1Nodes(s, dir), queries, "cosine", 10)
        .select(col("qid"), col("rnk"), col("bid"), col("score"))
    }

  /** Persisted 8-cell anchor quantizer for multi-entry seeding. */
  def anchorIvf(s: SparkSession, dir: String) =
    graft.operators.ProjIndex.ensureIvf(s, dir, "anchor", 8, 2) {
      val b = Tables.t(s, dir, "embeddings").filter(col("vec_id") % 50 =!= 0)
      val c = Ivf.centroids(b, 8, 2,
        Some((Tables.baseCount(s, dir), Tables.embDim(s, dir))))
      (c, Ivf.assign(b, c))
    }

  /** Persisted DATA-SIZED quantizer the quality sweep, adaptive
    * probing, and routed graph search share (Ivf.cellsFor — 16 cells
    * at test SF, 256 at 1M: the routing quantizer MUST scale with N
    * or probe sets degenerate to quarter-corpus scans, the 1M run's
    * headline lesson). */
  def sweepIvf(s: SparkSession, dir: String) = {
    val b = Tables.t(s, dir, "embeddings").filter(col("vec_id") % 50 =!= 0)
    val k = Ivf.cellsFor(Tables.baseCount(s, dir)) // memoized (round 16)
    graft.operators.ProjIndex.ensureIvf(s, dir, "sweep", k, 2) {
      val (c, a, _) = Ivf.sizedBuild(b, 2)
      (c, a)
    }
  }

  /** Multi-entry beam search: per-query seeds = the base nodes nearest
    * each IVF centroid, ranked by query distance, top-3 as entries
    * (MEAR multi-entry seeds, Idea-1023.md). Index artifacts (graph +
    * anchor quantizer) load persisted. Rows-only (iterative). */
  val multiEntrySearch = Q(
    "graph_multi_entry_search",
    (s, dir) => {
      val emb = Tables.t(s, dir, "embeddings")
      val base = emb.filter(col("vec_id") % 50 =!= 0)
        .select(col("vec_id").as("bid"), col("embedding").as("bv"))
      val queries = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      // round 15 (guide §2.6): graph load and anchor-seed ranking are
      // independent until the beam — forked.
      val (edges, seeds) = graft.operators.Par.withPool { pp =>
        val edgesF = pp.fork {
          graft.operators.ProjIndex.ensureGraph(s, dir) {
              VectorQs2.roarProjectionGraph.fn(s, dir)
            }
            .select(col("src"), col("dst")).localCheckpoint()
        }
        val seedsF = pp.fork {
          val (cents, _) = anchorIvf(s, dir)
          // anchor node per centroid = nearest base vector
          val anchors = BruteForce.topk(
            base,
            cents.select(col("cid").as("qid"), col("cv").cast("array<float>").as("qv")),
            "l2", 1)
            .select(col("bid")).distinct()
          // per-query: rank anchors by distance, take 3 as seeds
          TopK.perGroup(
            queries.crossJoin(broadcast(anchors.join(base, Seq("bid"))))
              .select(col("qid"), col("bid"), Vec.l2Fast(col("qv"), col("bv")).as("d")),
            "qid", "bid", "d", 3, asc = true)
            .select(col("qid"), col("bid"))
            .localCheckpoint()
        }
        (edgesF(), seedsF())
      }
      BeamSearch.runFromSeeds(edges, queries, base, seeds, ef = 10, rounds = 3,
        kernelInfo = Some((Tables.baseCount(s, dir), Tables.embDim(s, dir))))
        .orderBy(col("qid"), col("rnk"))
    },
    // oracle (round 3): anchor quantizer via the SqlIvf unroll, anchor
    // nodes = nearest base per FLOAT-cast centroid (cv::REAL[] mirrors
    // Spark's cast to array<float> exactly), top-3 anchor seeds per
    // query, then the same unrolled beam rounds as graph_beam_search
    Some(s"""
      WITH ${VectorQs2.sqlProjCtes},
      proj AS (SELECT src, dst FROM cp WHERE dr <= ${VectorQs2.DegCap}),
      ${SqlIvf.ctes("vec_id % 50 <> 0", 8, 2, "a")},
      qq AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id % 50 = 0),
      bb AS (SELECT vec_id AS bid, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 50 <> 0),
      cf AS (SELECT cid, (cv::REAL[])::DOUBLE[] AS cvf FROM acents),
      anch AS (SELECT DISTINCT bid FROM (
                 SELECT c.cid, b.bid,
                        ROW_NUMBER() OVER (PARTITION BY c.cid
                          ORDER BY sqrt(${Vec.sqlL2sq("c.cvf", "b.v")}), b.bid) AS rn
                 FROM cf c CROSS JOIN bb b) WHERE rn = 1),
      seeds AS (SELECT qid, bid FROM (
                  SELECT q.qid, a.bid,
                         ROW_NUMBER() OVER (PARTITION BY q.qid
                           ORDER BY sqrt(${Vec.sqlL2sq("q.qv", "b.v")}), a.bid) AS rn
                  FROM qq q CROSS JOIN anch a JOIN bb b ON b.bid = a.bid) WHERE rn <= 3),
      beam0 AS (SELECT s.qid, s.bid, sqrt(${Vec.sqlL2sq("q.qv", "v.v")}) AS dist
                FROM seeds s JOIN qq q ON q.qid = s.qid JOIN bb v ON v.bid = s.bid),
      ${VectorQs3.sqlBeamRounds(3, 10)}
      SELECT qid, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, bid) AS INT) AS rnk,
             bid, dist
      FROM beam3
      ORDER BY qid, rnk
    """))

  /** Recall-vs-parameter sweep (reference benchmark CSVs,
    * README_RoarGraph.md:56-112 / benchmark_hnsw_vs_roargraph.py):
    * per sweep point (method, param) emit recall@10 vs exact L2,
    * avg_visited, hops, wall_ms, qps — the reference CSV's columns.
    * Methods: IVF (param = nprobe ∈ {1,2,4}, hops = 0), adaptive
    * nprobe (param = α×100, the ivf_search_adaptive rule over the same
    * scored candidates), beam search over the PERSISTED projection
    * graph (param = rounds ∈ {1,2,3}, hops = rounds) — search-only,
    * the index loads from ProjIndex — and routed_ip, the
    * graph_routed_search_ip operating point on the reference's
    * headline inner-product metric scored vs exact IP groundtruth.
    * wall_ms/qps time the search actions on the driver, so they vary
    * run to run (the one nondeterministic output in the catalog —
    * inherent to reporting latency; every other column is exact).
    * Sweep points that share a configuration shape run BATCHED — the 5
    * fixed-nprobe points are one top-k pass over np-tagged candidates,
    * the 4 entry-count points and the 2 wide points each ride one
    * tagged beam search (BeamSearch.runFromSeedsCountedByTag), and the
    * rounds points one staged search — so such points report their
    * batched action's shared wall clock. recall/avg_visited/hops stay
    * bit-identical to unbatched per-point runs (BeamBatchSpec).
    * `batch_n` (advice r9) = how many points share that row's clock:
    * wall_ms/qps with batch_n > 1 are the BATCH's wall and aggregate
    * throughput, not a per-point latency; batch_n = 1 rows (adaptive,
    * per-stage beam clocks, routed_ip's build-time wall) are genuine
    * per-point measurements. */
  val annQualitySweep = Q(
    "ann_quality_sweep",
    (s, dir) => {
      import s.implicits._
      val emb = Tables.t(s, dir, "embeddings")
      val baseRaw = emb.filter(col("vec_id") % 50 =!= 0)
      val (cents, base) = sweepIvf(s, dir)
      val q2 = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val baseBv = baseRaw.select(col("vec_id").as("bid"), col("embedding").as("bv"))
      // round 15 (guide §2.6): the sweep is ~60 driver-sequential
      // actions of tiny per-action work (measured 378 jobs, 346 of them
      // ≤50 ms, ~8 s of driver gaps at 32 idle cores). Its phases are
      // independent chains — shared prerequisites (GT/index artifact
      // loads, the scored-candidate pass, anchor banks), then nine
      // per-family row computations — so both tiers run as forked
      // chains on a bounded driver pool (operators.Par). Every
      // deterministic output column is bit-identical to sequential
      // execution (each chain's computation is untouched; shared inputs
      // are materialized before the fork); only wall_ms/qps — the
      // catalog's two documented nondeterministic columns — observe the
      // overlap.
      graft.operators.Par.withPool { pp =>
      val gtF = pp.fork {
        // depth pinned at 10: every sweep search emits top-10, so the
        // recall denominator must be 10 gt rows per query regardless of
        // the SPARK_GRAFT_GT_K env knob (which only gt_topk_* honors)
        val g = sweepGt(s, dir, "l2").localCheckpoint()
        (g, g.count().toDouble)
      }
      val gtIpF = pp.fork {
        val g = sweepGt(s, dir, "ip").localCheckpoint()
        (g, g.count().toDouble)
      }
      val gtL2DF = pp.fork { sweepGtDrifted(s, dir, "l2").localCheckpoint() }
      val q2dF = pp.fork {
        graft.operators.QueryDrift.dNN(
            q2, graft.operators.QueryDrift.sigmaOf(SweepDriftTag))
          .localCheckpoint()
      }
      val countsF = pp.fork { (q2.count().toDouble, cents.count().toDouble) }
      // score candidates ONCE with the cell's probe rank AND cell id
      // attached, then each sweep point (fixed nprobe, adaptive) is a
      // filter + top-k over the same scored rows
      val maxProbe = 12
      val rankedCandF = pp.fork {
        val ranked = TopK.perGroup(
          q2.crossJoin(broadcast(cents))
            .select(col("qid").as("g"), col("cid"),
              graft.functions.Vec.l2sqFast(col("qv"), col("cv")).as("d2")),
          "g", "cid", "d2", maxProbe, asc = true)
          .select(col("g").as("qid"), col("cid"), col("rnk").as("cell_rnk"), col("d2"))
          .localCheckpoint()
        val cand = base.join(ranked.join(q2, Seq("qid")), Seq("cid"))
          .select(col("qid"), col("cid"), col("vec_id").as("bid"), col("cell_rnk"),
            graft.functions.Vec.l2Fast(col("qv"), col("embedding")).as("dist"))
          .localCheckpoint()
        (ranked, cand)
      }
      val edgesF = pp.fork {
        val edges = graft.operators.ProjIndex.ensureGraph(s, dir) {
            VectorQs2.roarProjectionGraph.fn(s, dir)
          }
          .select(col("src"), col("dst")).localCheckpoint()
        val entry = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
          .orderBy(col("d").desc, col("src")).head().getLong(0)
        (edges, entry)
      }
      val anchorsF = pp.fork {
        val (cents8, _) = anchorIvf(s, dir)
        // entry_cells/seed_evals for the multi/wide families read from
        // the LOADED anchor quantizer (realized cell count / distinct
        // anchor-node bank), not a literal 8 — a quantizer size change
        // can no longer serve a stale sweep label (ADVICE r12 2)
        val anchorCells = cents8.count().toInt
        val anchorNodes = BruteForce.topk(
          baseBv,
          cents8.select(col("cid").as("qid"), col("cv").cast("array<float>").as("qv")),
          "l2", 1)
          .select(col("bid")).distinct().localCheckpoint()
        val anchorBankN = anchorNodes.count().toDouble
        val anchorRanked = TopK.perGroup(
          q2.crossJoin(broadcast(anchorNodes.join(baseBv, Seq("bid"))))
            .select(col("qid"), col("bid"), graft.functions.Vec.l2Fast(col("qv"), col("bv")).as("d")),
          "qid", "bid", "d", 7, asc = true)
          .select(col("qid"), col("bid"), col("rnk")).localCheckpoint()
        (anchorCells, anchorNodes, anchorBankN, anchorRanked)
      }
      val richF = pp.fork {
        // the RICH projection graph (richGraph: k=48 lists, M=16, stored
        // degree 48) is the high-recall index — loaded persisted; erk
        // lets each sweep family pick its traversal degree from the one
        // artifact
        val rich = richGraph(s, dir).localCheckpoint()
        val richEntry = rich.groupBy(col("src")).agg(count(lit(1)).as("d"))
          .orderBy(col("d").desc, col("src")).head().getLong(0)
        val multiEdges = rich.filter(col("erk") <= 16)
          .select(col("src"), col("dst")).localCheckpoint()
        val wideEdges = rich.filter(col("erk") <= 32).select(col("src"), col("dst"))
          .union(bridgePairs(s, dir).select(col("src"), col("dst")))
          .localCheckpoint()
        (richEntry, multiEdges, wideEdges)
      }
      // join the whole shared tier on the main thread before any family
      // forks — no fork may wait on a still-queued fork (Par contract)
      val (gt, nGt) = gtF()
      val (gtIp, nGtIp) = gtIpF()
      val gtL2D = gtL2DF()
      val q2d = q2dF()
      val (nQ, nCents) = countsF()
      val (ranked, cand) = rankedCandF()
      val (edges, entry) = edgesF()
      val (anchorCells, anchorNodes, anchorBankN, anchorRanked) = anchorsF()
      val (richEntry, multiEdges, wideEdges) = richF()
      // all 5 fixed-nprobe points in ONE pass: each candidate joins the
      // np groups that include it (np >= its probe rank), one bounded
      // top-k over (qid, np), one hits aggregation — recall and
      // avg_visited per point are bit-identical to per-np filter+topk
      // (top-10 over cell_rnk<=np is the same set either way), but the
      // sweep schedules 3 actions instead of 5 searches × 3 actions.
      // Batched points share the batched action's wall clock.
      val nps = Seq(1, 2, 4, 8, 12)
      // every tagged encoding packs its point id under the tag base —
      // a point at or above the base would silently collide two points
      // into one group key (advice r9)
      require(nps.max < 16, s"np tag overflows base 16: ${nps.max}")
      val ivfRowsF = pp.fork {
      val ivfT0 = System.nanoTime()
      val npArr = array(nps.map(lit): _*)
      val topNp = TopK.perGroup(
        cand.select(
            col("qid"), col("bid"), col("dist"),
            explode(filter(npArr, np => np >= col("cell_rnk"))).as("np"))
          .select((col("qid") * 16 + col("np")).as("g"), col("bid"), col("dist")),
        "g", "bid", "dist", 10, asc = true)
        .select(expr("g DIV 16").as("qid"), pmod(col("g"), lit(16)).cast("int").as("np"),
          col("bid"))
        .localCheckpoint()
      val ivfWallMs = (System.nanoTime() - ivfT0) / 1e6
      val hitsByNp = topNp.join(gt, Seq("qid", "bid"))
        .groupBy(col("np")).count().collect()
        .map(r => r.getAs[Int]("np") -> r.getAs[Long]("count")).toMap
      // avg candidates scored per query — the reference benchmark's
      // avg_visited column (README_RoarGraph.md:56); count(rank<=np)
      // via one rank histogram
      val cntByRnk = cand.groupBy(col("cell_rnk")).count().collect()
        .map(r => r.getAs[Int]("cell_rnk") -> r.getAs[Long]("count")).toMap
      // seed_evals (round 13 — plan-audit rule: count distance evals,
      // not just beam visited): per-query evals spent SELECTING the
      // entry set before any candidate/beam scoring — the centroid
      // scan for the ivf families, the anchor-bank scan for entry-
      // seeded graph families, the coarse+candidate scans for the
      // routed row (read from its counted artifact). The round-12
      // audit measured this invisible term at 84% of routed query
      // cost; now it's a sweep column instead of a harness log line.
      nps.map { np =>
        val visited = (1 to np).map(r => cntByRnk.getOrElse(r, 0L)).sum / nQ
        ("ivf", np, hitsByNp.getOrElse(np, 0L) / nGt, visited, 0, ivfWallMs,
          nQ / (ivfWallMs / 1000.0), nps.size, 0, nCents)
      }
      }
      // adaptive point (ivf_search_adaptive's rule over the same scored
      // candidates): param = α×100
      val adaptRowsF = pp.fork { Seq(1.08).map { alpha =>
        val t0 = System.nanoTime()
        val d2min = ranked.filter(col("cell_rnk") === 1)
          .select(col("qid"), col("d2").as("d2min"))
        val cells = ranked.join(d2min, Seq("qid"))
          .filter(col("cell_rnk") === 1 || col("d2") <= lit(alpha) * col("d2min"))
          .select(col("qid"), col("cid"))
        val probedCand = cand.join(cells, Seq("qid", "cid"))
        val top = TopK.perGroup(probedCand, "qid", "bid", "dist", 10, asc = true)
          .select(col("qid"), col("bid")).localCheckpoint()
        val wallMs = (System.nanoTime() - t0) / 1e6
        val hits = top.join(gt, Seq("qid", "bid")).count()
        val visited = probedCand.count() / nQ
        ("adaptive", (alpha * 100).round.toInt, hits / nGt, visited, 0, wallMs,
          nQ / (wallMs / 1000.0), 1, 0, nCents)
      } }
      val beamRowsF = pp.fork {
      val seeds = q2.select(col("qid")).withColumn("bid", lit(entry))
      // ONE staged search: the beam after round r is the rounds=r
      // result, so the sweep costs 3 rounds, not 1+2+3; the stage clock
      // (cumulative through round r) comes from inside the search
      val staged = BeamSearch.runStaged(edges, q2, baseBv, seeds, ef = 10, maxRounds = 3,
        kernelInfo = Some((Tables.baseCount(s, dir), Tables.embDim(s, dir))))
      staged.zipWithIndex.map { case ((res, visitedTotal, nanos), i) =>
        val rounds = i + 1
        val top = res.select(col("qid"), col("bid")).localCheckpoint()
        val wallMs = nanos / 1e6
        val hits = top.join(gt, Seq("qid", "bid")).count()
        ("beam", rounds, hits / nGt, visitedTotal / nQ, rounds, wallMs,
          nQ / (wallMs / 1000.0), 1, 0, 0.0)
      }
      }
      // entry-point-count sweep on the rich graph
      // (plot_entry_points_comparison.py / hnsw_with_bridges_optimized
      // .py:137-274 — runs 1..8 entries): same graph, ef and rounds as
      // the single-entry beam rows; entry set = the default max-degree
      // hub plus the query's (n-1) nearest anchor nodes
      // (graph_multi_entry_search's machinery) — param = n_entries, so
      // n=1 IS the single-entry baseline and the delta isolates what
      // additional entries buy at equal beam budget.
      // the 4 entry-count points share (graph, ef, rounds, metric), so
      // they ride ONE batched search (qid tagged with the point's n;
      // per-tag results and visited ledgers are bit-identical to the
      // separate runs — BeamBatchSpec) and share its wall clock
      val multiNs = Seq(1, 2, 4, 8)
      require(multiNs.max < 16, s"multi tag overflows base 16: ${multiNs.max}")
      val multiRowsF = pp.fork {
      val multiT0 = System.nanoTime()
      val qMulti = multiNs.map(n =>
          q2.select((col("qid") * 16 + n).as("qid"), col("qv")))
        .reduce(_ union _)
      val seedsMulti = multiNs.map { n =>
        q2.select((col("qid") * 16 + n).as("qid")).withColumn("bid", lit(richEntry))
          .union(anchorRanked.filter(col("rnk") <= n - 1)
            .select((col("qid") * 16 + n).as("qid"), col("bid")))
      }.reduce(_ union _)
      val (resMulti, visMulti) = BeamSearch.runFromSeedsCountedByTag(
        multiEdges, qMulti, baseBv, seedsMulti,
        maxEf = 10, ef = BeamSearch.ConstEf(10), tagBase = 16, rounds = 3,
        kernelInfo = Some((Tables.baseCount(s, dir), Tables.embDim(s, dir))))
      val topMulti = resMulti
        .select(expr("qid DIV 16").as("qid"), pmod(col("qid"), lit(16)).cast("int").as("tag"),
          col("bid"))
        .localCheckpoint()
      val multiWallMs = (System.nanoTime() - multiT0) / 1e6
      val hitsMulti = topMulti.join(gt, Seq("qid", "bid"))
        .groupBy(col("tag")).count().collect()
        .map(r => r.getAs[Int]("tag") -> r.getAs[Long]("count")).toMap
      multiNs.map { n =>
        // the n = 1 point seeds from the hub alone — no anchor scan
        ("multi", n, hitsMulti.getOrElse(n, 0L) / nGt, visMulti.getOrElse(n, 0L) / nQ,
          3, multiWallMs, nQ / (multiWallMs / 1000.0), multiNs.size, anchorCells,
          if (n == 1) 0.0 else anchorBankN)
      }
      }
      // high-recall operating point (the reference operates graph search
      // at recall 0.69-0.99, README_RoarGraph.md:56-112): rich graph at
      // traversal degree 32 + PERSISTED bridge edges + 3 anchor entries
      // + a wide beam — param = ef. Everything inside the timed region
      // is search: both edge tables load from artifacts.
      // the two wide points differ ONLY in ef, which the batched search
      // expresses per query (tag = the point's ef; the maxEf pool
      // rank-filtered to the tag's ef is exactly the narrower beam) —
      // one 5-round search instead of two, shared wall clock
      val wideEfs = Seq(16, 32)
      require(wideEfs.max < 64, s"wide tag overflows base 64: ${wideEfs.max}")
      val wideRowsF = pp.fork {
      val wideT0 = System.nanoTime()
      val qWide = wideEfs.map(e =>
          q2.select((col("qid") * 64 + e).as("qid"), col("qv")))
        .reduce(_ union _)
      val seedsWide = wideEfs.map { e =>
        q2.select((col("qid") * 64 + e).as("qid")).withColumn("bid", lit(richEntry))
          .union(anchorRanked.filter(col("rnk") <= 3)
            .select((col("qid") * 64 + e).as("qid"), col("bid")))
      }.reduce(_ union _)
      val (resWide, visWide) = BeamSearch.runFromSeedsCountedByTag(
        wideEdges, qWide, baseBv, seedsWide,
        maxEf = 32, ef = BeamSearch.TagEf(64), tagBase = 64, rounds = 5,
        kernelInfo = Some((Tables.baseCount(s, dir), Tables.embDim(s, dir))))
      val topWide = TopK.perGroup(resWide, "qid", "bid", "dist", 10, asc = true)
        .select(expr("qid DIV 64").as("qid"), pmod(col("qid"), lit(64)).cast("int").as("tag"),
          col("bid"))
        .localCheckpoint()
      val wideWallMs = (System.nanoTime() - wideT0) / 1e6
      val hitsWide = topWide.join(gt, Seq("qid", "bid"))
        .groupBy(col("tag")).count().collect()
        .map(r => r.getAs[Int]("tag") -> r.getAs[Long]("count")).toMap
      wideEfs.map { wideEf =>
        ("wide", wideEf, hitsWide.getOrElse(wideEf, 0L) / nGt,
          visWide.getOrElse(wideEf, 0L) / nQ, 5, wideWallMs,
          nQ / (wideWallMs / 1000.0), wideEfs.size, anchorCells, anchorBankN)
      }
      }
      // routed operating point on the reference's HEADLINE metric —
      // inner product after normalization (README_RoarGraph.md:45-47):
      // graph_routed_search_ip's exact machinery (IP rich graph + IP
      // anchor seeds + wide IP beam), counted, scored against the exact
      // IP groundtruth — param = ef, hops = beam rounds
      // The routed row loads the PERSISTED counted-search artifact
      // (HnswQs3.routedCountedArtifact) instead of re-executing the
      // search graph_routed_search_ip already runs live in this bench
      // pass (r9 verdict item 4). recall/avg_visited are bit-identical
      // to the live run (deterministic search); wall_ms/qps are the
      // wall of the artifact's one build-time execution.
      // entry_cells (round 12): the entry-quantizer depth behind each
      // row's seeds — 0 for families without one, 8 for the fixed
      // anchor quantizer (multi/wide), the RESOLVED ladder depth for
      // the routed row (the operating point the catalog ships), so a
      // regression in entry resolution is visible in the sweep output
      // rather than hidden behind the aq-tagged artifact name
      // eval_dist (round 14 — m13's operational rule as a SHIPPED
      // diagnostic): a recall monitor that only ever scores
      // in-distribution queries is an anti-signal under query drift
      // (m13: in-dist held-out 0.98 while a drifted manifold got 0.56
      // from the same index). The routed operating point therefore
      // ships an in-dist/drifted recall PAIR: same persisted index,
      // knobs and seeding, queries pushed sigma=1.0 (cos≈0.707 at 64d
      // in expectation — m13's measured cliff edge) along a
      // deterministic hash direction (operators.QueryDrift), scored
      // against the drifted exact groundtruth. Both rows load counted
      // artifacts (lesson 20); every non-wall column is
      // crosscore-deterministic.
      def routedRowsFor(evalDist: String) = Seq("ip").map { m =>
        val (routedEf, routedRounds, _) = HnswQs3.routedKnobsFor(s, dir)
        val art = HnswQs3.routedCountedArtifact(s, dir, m, evalDist).localCheckpoint()
        val meta = art.select(col("visited_total"), col("build_wall_ms"),
          col("seed_evals_total")).head()
        val visitedTotal = meta.getLong(0)
        val wallMs = meta.getDouble(1)
        val seedEvalsTotal = meta.getLong(2)
        val gtM = if (evalDist == "indist") gtIp
          else sweepGtDrifted(s, dir, m, evalDist).localCheckpoint()
        val hits = art.select(col("qid"), col("bid"))
          .join(gtM, Seq("qid", "bid")).count()
        (s"routed_$m", routedEf, hits / nGtIp, visitedTotal / nQ,
          routedRounds, wallMs, nQ / (wallMs / 1000.0), 1,
          HnswQs3.resolvedEntryCells(s, dir), seedEvalsTotal / nQ)
      }
      val routedRowsF = pp.fork { routedRowsFor("indist") }
      val routedDriftRowsF = pp.fork { routedRowsFor(SweepDriftTag) }
      // drifted rows for the NON-routed families (round 15 — the
      // reference's whole comparison is method-vs-method under OOD
      // queries, hnsw_methods_comparison.ipynb): the ivf np=12 and
      // multi n=8 operating points re-run against the SAME persisted
      // index structures with the drifted query set, scored against
      // the drifted exact l2 groundtruth (a build-once artifact like
      // the in-dist GTs). The sweep now reads method × eval_dist —
      // which family degrades least under drift, not just the routed
      // point's robustness in isolation.
      // ivf np=12 under drift: rank cells for the drifted queries,
      // score the probed candidates, top-10 — the exact per-point
      // shape the batched in-dist pass is equivalent to
      val ivfDriftRowsF = pp.fork {
      val ivfDT0 = System.nanoTime()
      val rankedD = TopK.perGroup(
        q2d.crossJoin(broadcast(cents))
          .select(col("qid").as("g"), col("cid"),
            graft.functions.Vec.l2sqFast(col("qv"), col("cv")).as("d2")),
        "g", "cid", "d2", maxProbe, asc = true)
        .select(col("g").as("qid"), col("cid"))
      val candD = base.join(rankedD.join(q2d, Seq("qid")), Seq("cid"))
        .select(col("qid"), col("vec_id").as("bid"),
          graft.functions.Vec.l2Fast(col("qv"), col("embedding")).as("dist"))
        .localCheckpoint()
      val topIvfD = TopK.perGroup(candD, "qid", "bid", "dist", 10, asc = true)
        .select(col("qid"), col("bid"))
      val ivfDHits = topIvfD.join(gtL2D, Seq("qid", "bid")).count()
      val ivfDVisited = candD.count() / nQ
      val ivfDWallMs = (System.nanoTime() - ivfDT0) / 1e6
      Seq(
        ("ivf", maxProbe, ivfDHits / nGt, ivfDVisited, 0, ivfDWallMs,
          nQ / (ivfDWallMs / 1000.0), 1, 0, nCents))
      }
      // multi n=8 under drift: hub + the drifted query's 7 nearest
      // anchors seed the same rich-graph beam (ef 10 × 3 rounds)
      val multiDriftRowsF = pp.fork {
      val multiDT0 = System.nanoTime()
      val anchorRankedD = TopK.perGroup(
        q2d.crossJoin(broadcast(anchorNodes.join(baseBv, Seq("bid"))))
          .select(col("qid"), col("bid"),
            graft.functions.Vec.l2Fast(col("qv"), col("bv")).as("d")),
        "qid", "bid", "d", 7, asc = true)
        .select(col("qid"), col("bid"), col("rnk"))
      val seedsMD = q2d.select(col("qid")).withColumn("bid", lit(richEntry))
        .union(anchorRankedD.select(col("qid"), col("bid")))
      val (resMD, visMD) = BeamSearch.runFromSeedsCounted(
        multiEdges, q2d, baseBv, seedsMD, ef = 10, rounds = 3,
        kernelInfo = Some((Tables.baseCount(s, dir), Tables.embDim(s, dir))))
      val topMD = resMD.select(col("qid"), col("bid")).localCheckpoint()
      val multiDHits = topMD.join(gtL2D, Seq("qid", "bid")).count()
      val multiDWallMs = (System.nanoTime() - multiDT0) / 1e6
      Seq(
        ("multi", 8, multiDHits / nGt, visMD / nQ, 3, multiDWallMs,
          nQ / (multiDWallMs / 1000.0), 1, anchorCells, anchorBankN))
      }
      // join every family in the sequential order of record; row
      // assembly and ordering are unchanged
      val ivfRows = ivfRowsF()
      val adaptRows = adaptRowsF()
      val beamRows = beamRowsF()
      val multiRows = multiRowsF()
      val wideRows = wideRowsF()
      val routedRows = routedRowsF()
      val routedDriftRows = routedDriftRowsF()
      val ivfDriftRows = ivfDriftRowsF()
      val multiDriftRows = multiDriftRowsF()
      val cols = Seq("method", "param", "recall", "avg_visited", "hops",
        "wall_ms", "qps", "batch_n", "entry_cells", "seed_evals")
      val indistDf =
        (ivfRows ++ adaptRows ++ beamRows ++ multiRows ++ wideRows ++ routedRows)
          .toDF(cols: _*).withColumn("eval_dist", lit("indist"))
      val driftDf = (ivfDriftRows ++ multiDriftRows ++ routedDriftRows)
        .toDF(cols: _*)
        .withColumn("eval_dist", lit(SweepDriftTag))
      indistDf.union(driftDf)
        .orderBy(col("method"), col("eval_dist"), col("param"))
      }
    },
    None)

  /** The sweep's drifted-eval point (m13's measured cliff edge:
    * sigma = 1.0 → cos(q,q') ≈ 0.707 in expectation at 64d, where the
    * 1M clean graph lost 14pt — far enough to move when robustness
    * regresses, near enough that the row isn't just noise). */
  private[graft] val SweepDriftTag = "d100"

  /** Build-once exact-GT artifact for the quality sweep (round 15 —
    * lesson 20): deterministic, index-independent, but a |Q|·|B|
    * brute-force base scan, so it must not be recomputed inside the
    * catalog's most expensive timed query on every run. Values are
    * identical to the former inline computation; Bench warms it. */
  private[graft] def sweepGt(s: SparkSession, dir: String, metric: String): DataFrame =
    graft.operators.ProjIndex.ensureTable(s, dir, s"sweep_gt_${metric}_k10") {
      VectorQs.gtTopk(s, dir, metric, 10).select(col("qid"), col("bid"))
    }

  /** Drifted twin of sweepGt: exact GT for the sigma-pushed query set
    * (operators.QueryDrift — pure hash math, so the artifact is
    * deterministic too). Keyed by (metric, drift tag) alongside the
    * _ev-tagged counted-search artifacts. */
  private[graft] def sweepGtDrifted(
      s: SparkSession, dir: String, metric: String,
      tag: String = SweepDriftTag): DataFrame =
    graft.operators.ProjIndex.ensureTable(s, dir, s"sweep_gt_${metric}_k10_ev$tag") {
      val emb = Tables.t(s, dir, "embeddings")
      val baseBv = emb.filter(col("vec_id") % 50 =!= 0)
        .select(col("vec_id").as("bid"), col("embedding").as("bv"))
      val q2 = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      BruteForce.topkPlan(
        baseBv,
        graft.operators.QueryDrift.dNN(
          q2, graft.operators.QueryDrift.sigmaOf(tag)),
        metric, 10).select(col("qid"), col("bid"))
    }

  /** Cross-distribution bridge edges (hnsw_cosine_status_high.py:
    * 1080-1195 build_cross_distribution_edges and
    * hnsw_with_bridges_optimized.py): per query, take the top-10
    * nearest layer-1 nodes by cosine, consider every pair (i<j) in
    * rank order, and add a bidirectional bridge unless the layer-1 kNN
    * graph already has the i→j edge or either endpoint has spent its
    * 4-new-edges budget within this query (the reference's
    * added_per_node defaultdict is per call = per query). Pairs added
    * by an earlier (qid, i, j) event win the cross-query dedupe.
    * Rows-only (BridgeEdgesSpec shows multi-entry beam recall improves
    * when bridges augment the modality-clustered layer graph).
    *
    * Scale shape: per query one bounded 45-pair fold; the only joins
    * are the member self-join and a membership probe of the layer-1
    * kNN edges — Q×100 small rows, never N². */
  /** Persisted bridge pair table (build-once/load-many): the selection
    * fold runs ONLY on an artifact miss, so search-side consumers (the
    * quality sweep's wide rows, bridged beam variants) union edges from
    * parquet instead of re-deriving them inside timed regions
    * (VERDICT r5 wrong #3). */
  def bridgePairs(s: SparkSession, dir: String): DataFrame =
    graft.operators.ProjIndex.ensureTable(s, dir, "bridge_pairs")(bridgeBuild(s, dir))

  private def bridgeBuild(s: SparkSession, dir: String): DataFrame = {
      val MaxNew = 4
      val TopK10 = 10
      // both inputs load persisted artifacts (build-once on a miss) —
      // no BruteForce node may appear in this query's executed plan
      val top = l1QueryTop10(s, dir)
      val bm = top.groupBy(col("qid")).agg(
        transform(array_sort(collect_list(struct(col("rnk").cast("int").as("rnk"), col("bid")))),
          x => x.getField("bid")).as("bids"))
      // layer-1 kNN adjacency (the graph bridges are added to)
      val l1knn = l1KnnEdges(s, dir)
        .select(col("esrc"), col("edst"))
      // existing directed edges among a query's members, rank-encoded
      val exist = top.as("x").join(top.as("y"), col("x.qid") === col("y.qid"))
        .join(l1knn, col("x.bid") === col("esrc") && col("y.bid") === col("edst"), "left_semi")
        .groupBy(col("x.qid").as("qid"))
        .agg(collect_set((col("x.rnk") - 1) * 10 + col("y.rnk")).as("exist"))
      val pairsArr = flatten(transform(sequence(lit(1), lit(TopK10 - 1)), i =>
        transform(sequence(i + 1, lit(TopK10)), j =>
          struct(i.cast("int").as("i"), j.cast("int").as("j")))))
      val acc0 = struct(
        array().cast("array<struct<i:int,j:int>>").as("ps"),
        array_repeat(lit(0), TopK10).as("cnt"))
      val folded = aggregate(
        pairsArr, acc0,
        (acc, p) => {
          val pi = p.getField("i"); val pj = p.getField("j")
          // pj > |members| guards the fixed 1..10 grid against queries
          // with fewer layer-1 neighbors (phantom pairs must neither
          // emit NULL edges nor consume the budget)
          val blocked = pj > size(col("bids")) ||
            coalesce(array_contains(col("exist"), (pi - 1) * 10 + pj), lit(false)) ||
              element_at(acc.getField("cnt"), pi) >= MaxNew ||
              element_at(acc.getField("cnt"), pj) >= MaxNew
          when(blocked, acc).otherwise(struct(
            concat(acc.getField("ps"), array(p)).as("ps"),
            transform(acc.getField("cnt"),
              (c, idx) => when(idx === pi - 1 || idx === pj - 1, c + 1).otherwise(c)).as("cnt")))
        })
      val ex = bm.join(exist, Seq("qid"), "left")
        .select(col("qid"), col("bids"), folded.getField("ps").as("ps"))
        .select(col("qid"), col("bids"), posexplode(col("ps")).as(Seq("ei", "p")))
        .select(col("qid"), col("ei"),
          element_at(col("bids"), col("p").getField("i")).as("u"),
          element_at(col("bids"), col("p").getField("j")).as("v"))
      val ev = ex.select(col("u").as("src"), col("v").as("dst"), col("qid"), col("ei"), lit(0).as("kind"))
        .union(ex.select(col("v").as("src"), col("u").as("dst"), col("qid"), col("ei"), lit(1).as("kind")))
      ev.withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("src"), col("dst"))
            .orderBy(col("qid"), col("ei"), col("kind"))))
        .filter(col("rn") === 1)
        .select(col("src"), col("dst"), col("qid").as("first_qid"))
  }

  val bridgeEdges = Q(
    "bridge_edges",
    (s, dir) =>
      // the query IS the artifact lifecycle: build+persist on a miss,
      // then a pure parquet load — values identical either way, so the
      // oracle hash is unaffected while repeat runs time only the read
      bridgePairs(s, dir).orderBy(col("src"), col("dst")),
    // oracle (round 3): the per-query 45-pair budget fold UNROLLED as
    // 45 chained CTE steps — each step's (i, j) are literals, so the
    // cnt update is constant-index list surgery (slice || [cnt+1] ||
    // slice) and every lambda stays single-level (lesson 9); pairs are
    // encoded i*100+j and decoded at emission
    Some {
      val MaxNew = 4
      val TopK10 = 10
      val pairs = for (i <- 1 to 9; j <- i + 1 to 10) yield (i, j)
      def cntUpd(i: Int, j: Int): String = {
        // increment positions i and j (1-based, i < j) of the 10-slot list
        val parts = Seq(
          if (i > 1) Some(s"cnt[1:${i - 1}]") else None,
          Some(s"[cnt[$i] + 1]"),
          if (j > i + 1) Some(s"cnt[${i + 1}:${j - 1}]") else None,
          Some(s"[cnt[$j] + 1]"),
          if (j < 10) Some(s"cnt[${j + 1}:10]") else None).flatten
        parts.mkString(" || ")
      }
      val steps = pairs.zipWithIndex.map { case ((i, j), s0) =>
        val s = s0 + 1
        s"""t$s AS (SELECT qid, bids, exist, CASE WHEN blocked THEN ps ELSE list_append(ps, ${i * 100 + j}) END AS ps,
               CASE WHEN blocked THEN cnt ELSE ${cntUpd(i, j)} END AS cnt
             FROM (SELECT qid, bids, exist, ps, cnt,
                     ($j > len(bids) OR COALESCE(list_contains(exist, ${(i - 1) * 10 + j}), false)
                      OR cnt[$i] >= $MaxNew OR cnt[$j] >= $MaxNew) AS blocked
                   FROM t${s - 1}))"""
      }.mkString(",\n      ")
      s"""
      WITH lv AS (SELECT vec_id, embedding::DOUBLE[] AS v, ${sqlLevel("vec_id")} AS lvl
                  FROM embeddings),
      l1 AS (SELECT vec_id AS bid, v FROM lv WHERE lvl >= 1 AND vec_id % 50 <> 0),
      qx AS (SELECT vec_id AS qid, v AS qv FROM lv WHERE vec_id % 50 = 0),
      topc AS (SELECT qid, bid, rnk FROM (
                 SELECT q.qid, b.bid,
                        CAST(ROW_NUMBER() OVER (PARTITION BY q.qid
                          ORDER BY ${Vec.sqlCosine("q.qv", "b.v")} DESC, b.bid) AS INT) AS rnk
                 FROM qx q CROSS JOIN l1 b) WHERE rnk <= $TopK10),
      bm AS (SELECT qid, list(bid ORDER BY rnk) AS bids FROM topc GROUP BY qid),
      l1knn AS (SELECT esrc, edst FROM (
                  SELECT a.bid AS esrc, b.bid AS edst,
                         ROW_NUMBER() OVER (PARTITION BY a.bid
                           ORDER BY sqrt(${Vec.sqlL2sq("a.v", "b.v")}), b.bid) AS rn
                  FROM l1 a JOIN l1 b ON a.bid <> b.bid) WHERE rn <= $LevelK),
      exist AS (SELECT x.qid, list((x.rnk - 1) * 10 + y.rnk) AS exist
                FROM topc x JOIN topc y ON x.qid = y.qid
                JOIN l1knn e ON e.esrc = x.bid AND e.edst = y.bid
                GROUP BY x.qid),
      t0 AS (SELECT bm.qid, bm.bids, exist.exist,
                    CAST([] AS INT[]) AS ps,
                    [0, 0, 0, 0, 0, 0, 0, 0, 0, 0] AS cnt
             FROM bm LEFT JOIN exist ON exist.qid = bm.qid),
      $steps,
      ex AS (SELECT qid, bids, u.ei, u.p
             FROM (SELECT qid, bids,
                          unnest(list_transform(range(1, len(ps) + 1),
                                 e -> {'ei': e, 'p': ps[e]})) AS u
                   FROM t45)),
      wd AS (SELECT qid, ei, bids[p // 100] AS u, bids[p % 100] AS v FROM ex),
      ev AS (SELECT u AS src, v AS dst, qid, ei, 0 AS kind FROM wd
             UNION ALL
             SELECT v AS src, u AS dst, qid, ei, 1 AS kind FROM wd),
      dd AS (SELECT src, dst, qid FROM (
               SELECT ev.*, ROW_NUMBER() OVER (PARTITION BY src, dst
                        ORDER BY qid, ei, kind) AS rn
               FROM ev) WHERE rn = 1)
      SELECT src, dst, qid AS first_qid FROM dd
      ORDER BY src, dst
      """
    })

  // ---- rich projection graph (the high-recall build) ----

  private[queries] val RichK = 48 // query-kNN list length at test/1M scale
  private[queries] val RichM = 16 // neighbors kept per list member (M_pjbp-scale, roargraph_python.py:177)
  private[graft] val RichDeg = 48 // stored per-source degree cap; search picks erk <= D <= RichDeg

  /** DATA-SIZED training-list depth (r9 verdict item 1): the 10M run
    * showed the binding constraint on the routed-search frontier is the
    * GRAPH — 10k training queries × k=48 lists cover only ~4% of a 10M
    * base, and the beam compensates for sparse member density near the
    * target with brute width (ef 64). The reference builds its
    * bipartite projection from ~100-NN training lists
    * (roargraph_python.py:177-294, README_RoarGraph.md:9-15 computes
    * groundtruth at K=100); doubling k doubles both membership AND
    * local degree for nearly the same build cost (the |Q|×N brute-force
    * scan dominates, not the per-query k×k member block). 48 at ≤ 1M
    * keeps every test-SF and 1M artifact/oracle unchanged; 96 beyond.
    * The oracle computes the same rule in its `rkn` CTE. */
  private[graft] def richKFor(n: Long): Int = if (n <= 1000000L) RichK else 96

  /** High-recall projection graph (VERDICT r5 item 1): the round-2
    * roar_projection_graph tops out at recall 0.49 because it is
    * starved — built from k=10 query lists with 8 selected / degree cap
    * 16, while the reference operates its bipartite projection at
    * M_pjbp≈35 over ~100-NN training lists (roargraph_python.py:177-294,
    * README_RoarGraph.md:56-112). This build raises every knob: k=48
    * L2 query lists (so every exact top-10 target is IN the graph), each
    * member connects to its 16 nearest same-list members (plain member
    * kNN — at 16 kept of 47 the occlusion rule barely binds, and the
    * kNN form is one codegen'd window instead of an interpreted fold),
    * edges undirected, per-source degree ranked by (weight, dst) and
    * capped at 48. `erk` (edge rank) is stored so search can traverse
    * the best-D prefix without a rebuild — one artifact serves every
    * search-time degree ≤ 48.
    *
    * Scale shape: one bounded BruteForce pass (|Q| bounded training
    * queries, broadcast) + per-query 48×48 member blocks + one
    * groupBy(src,dst) + one per-src window — Q×2304 small rows, never
    * N². Build-once/load-many via ProjIndex.
    *
    * METRIC-GENERAL (r7 item 3): `metric` ∈ {l2, cosine, ip} picks the
    * training-list ranking and the edge weight (Vec.metricDist — for
    * cosine/ip the weight is the negated similarity, so smaller stays
    * closer and the one erk ordering serves all metrics). The
    * reference's headline benchmark is IP-after-normalization
    * (README_RoarGraph.md:45-47); each metric gets its own artifact. */
  def richGraph(s: SparkSession, dir: String, metric: String = "l2",
      k: Int = 0): DataFrame = {
    // k = 0 → data-sized list depth (richKFor); explicit k overrides
    // (InteropSpec builds at the reference's literal K=100)
    val kk = if (k > 0) k else richKFor(Tables.baseCount(s, dir))
    graft.operators.ProjIndex.ensureTable(s, dir,
      s"rich_proj_k${kk}_m${RichM}_d$RichDeg" +
        (if (metric == "l2") "" else s"_$metric")) {
      val emb = Tables.t(s, dir, "embeddings")
      val base = emb.filter(col("vec_id") % 50 =!= 0)
        .select(col("vec_id").as("bid"), col("embedding").as("bv"))
      val queries = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      richGraphFrom(base, queries, metric, kk)
    }
  }

  /** The rich build body over explicit (base, queries) sides — shared
    * by the catalog artifact above and the held-out scale experiment
    * (HeldoutCurve trains on one query split and evaluates on
    * another, so train-side and eval-side query sets must be free). */
  /** Membership-density gate for the occlusion-pruned selection (round
    * 11): at ~4+ training lists per base node the per-source best-48-
    * by-weight cap degenerates to a plain local kNN graph — every kept
    * edge is a global near-neighbor, the long shortcut edges that make
    * a beam navigable are all evicted, and search gets STUCK (m6,
    * 500k × 1M: ef32 rounds 9→13 left recall flat at 0.7346 while
    * visited grew 40%). The reference never stores raw member-kNN:
    * its projection build occlusion-prunes every candidate list
    * (M_pjbp selection, roargraph_python.py:177-294 — the same RNG
    * rule roar_projection_graph mirrors). Below the gate (every test
    * SF ~1 list/node, m1 0.05, m3 0.10, m4 0.10) sparse lists ARE the
    * diversity source and the weight-ranked cap is measured-good —
    * that branch, its artifacts, and its oracles are unchanged. */
  private[graft] def richDense(nQ: Long, kk: Int, nB: Long): Boolean =
    nQ * kk >= 4L * nB
  /** occlusion candidate pool per source: top-RichOccPool by (w, dst)
    * — the efConstruction convention (bounded pool, heuristic select);
    * it caps the per-source vector join at N·pool rows. 96 = 2× the
    * stored degree: the N·pool·(vector) shuffle is the dense build's
    * disk bill (the 128-pool first attempt filled the sandbox disk
    * alongside concurrent jobs), and selection uses well under 2×
    * budget in practice. */
  private[graft] val RichOccPool = 96

  /** One training list's selected member edges — the per-list local
    * kernel of the rich-graph build (round 11, lesson 38), fed rnk-
    * ordered (ids, vectors) arrays by the sort-run gather. Distances
    * are the same float-widened left folds Vec.metricDist emits
    * (VecL2Sq→sqrt / VecCosine / VecDot); selection is per-member
    * top-M under the strict (Double.compare(d), dst) order; pair
    * (i, j) emits both directions ONCE even when both members select
    * each other (d is symmetric, so the downstream min(w) dedupe
    * collapsed those rows to the same value anyway). */
  private def listMemberEdges(ids: Array[Long], vs: Array[Array[Float]],
      isL2: Boolean, isCos: Boolean, mSel: Int): Iterator[(Long, Long, Double)] = {
    val k = ids.length
    // symmetric distance matrix
    val dm = new Array[Double](k * k)
    var i = 0
    while (i < k) {
      var j = i + 1
      while (j < k) {
        val a = vs(i); val b = vs(j)
        val n = math.min(a.length, b.length)
        var e = 0
        val d =
          if (isL2) {
            var s = 0.0
            while (e < n) { val df = a(e).toDouble - b(e).toDouble; s += df * df; e += 1 }
            math.sqrt(s)
          } else if (isCos) {
            var dot = 0.0; var na = 0.0; var nb = 0.0
            while (e < n) {
              val x = a(e).toDouble; val y = b(e).toDouble
              dot += x * y; na += x * x; nb += y * y; e += 1
            }
            -(dot / math.sqrt(na * nb))
          } else {
            var dot = 0.0
            while (e < n) { dot += a(e).toDouble * b(e).toDouble; e += 1 }
            -dot
          }
        dm(i * k + j) = d; dm(j * k + i) = d
        j += 1
      }
      i += 1
    }
    val seen = new java.util.HashSet[Long]()
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val cand = new Array[Int](math.max(0, k - 1))
    i = 0
    while (i < k) {
      var c = 0; var j = 0
      while (j < k) { if (j != i) { cand(c) = j; c += 1 }; j += 1 }
      val cs = cand.take(c).sortWith { (x, y) =>
        val cmp = java.lang.Double.compare(dm(i * k + x), dm(i * k + y))
        if (cmp != 0) cmp < 0 else ids(x) < ids(y)
      }
      val lim = math.min(mSel, cs.length)
      var r = 0
      while (r < lim) {
        val j2 = cs(r)
        val lo = math.min(i, j2); val hi = math.max(i, j2)
        val pk = lo.toLong * k + hi
        if (seen.add(pk)) {
          val d = dm(i * k + j2)
          out += ((ids(i), ids(j2), d))
          out += ((ids(j2), ids(i), d))
        }
        r += 1
      }
      i += 1
    }
    out.iterator
  }

  private[graft] def richGraphFrom(base: DataFrame, queries: DataFrame,
      metric: String, kk: Int, listsOpt: Option[DataFrame] = None): DataFrame = {
      val spark = base.sparkSession
      import spark.implicits._
      val topk = listsOpt.getOrElse(
        BruteForce.topk(base, queries, metric, kk)
          .select(col("qid"), col("rnk").cast("int").as("rnk"), col("bid")))
        .localCheckpoint()
      val mem = topk.join(base, Seq("bid"))
        .select(col("qid"), col("rnk"), col("bid"), col("bv"))
      // Per-list member-kNN as a LOCAL kernel (round 11): the joins
      // form (self-join on qid → |Q|·k·(k−1) rows → row_number window
      // top-M) is the generate-then-topk shape of lesson 30 in the
      // BUILD path — at 500k training queries × k=96 it pushes 4.6e9
      // ~40-byte rows through a window sort whose spill exceeds the
      // sandbox disk. Each list is k vectors; gather it in one group
      // row and do the k² distance matrix + per-member top-M in the
      // task. Rows that ever exist: |Q| group rows in, selected edges
      // out (|Q|·k·M, already direction-deduped within the list).
      // Bit-identical to the joins form (RichKernelSpec): distances
      // are the same float-widened left folds in element order
      // (Vec.metricDist), selection order is the same strict
      // (Double.compare(d), dst) tie-break, and the within-list
      // direction dedupe is exact because d is symmetric so the
      // downstream min(w) collapsed those rows to the same value
      // anyway.
      val isL2 = metric == "l2"; val isCos = metric == "cosine"
      require(isL2 || isCos || metric == "ip", s"unknown metric $metric")
      val mSel = RichM
      // member gather as an IN-TASK HASH GATHER, not collect_list and
      // not a sorted shuffle (round 13 — the m9 build's disk
      // failures, one per rejected shape): (a) the aggregation map
      // buffered every (member, vector) row of its in-flight lists —
      // at 2M×1M×k96/64d that is ~29 GB of agg state whose
      // sort-based spill lands ON TOP of the same-sized shuffle;
      // (b) a repartition + sortWithinPartitions run-walk drops the
      // agg state but the external sorter spills a SECOND full copy
      // of the vector rows while sorting each partition (measured:
      // ~46 GB scratch at zstd before the stage completed). Vector
      // rows must hit disk ONCE — the repartition shuffle — so tasks
      // gather their lists in a plain in-memory hash map and sort
      // each list's k rows by rnk in-task before the kernel. Memory
      // is bounded by the PARTITION's bytes, and the partition count
      // is data-derived (~64 MB of member rows each) exactly so a
      // task's gather map stays executor-sized at any corpus scale.
      // The per-list kernel (k² matrix, strict (d, dst) top-M,
      // direction dedupe) is unchanged: output bit-identical to the
      // collect form (RichKernelSpec pins it against the joins
      // oracle; emission order differs, every consumer aggregates).
      val dim0 = graft.operators.Ivf.dimOf(
        base.select(col("bv").as("embedding")))
      val memBytes = topk.count() * (32L + 4L * dim0)
      val nPart = math.max(spark.conf.get("spark.sql.shuffle.partitions").toInt,
        (memBytes / (64L << 20)).toInt + 1)
      val und = mem
        .select(col("qid"), col("rnk"), col("bid"), col("bv"))
        .repartition(nPart, col("qid"))
        .as[(Long, Int, Long, Array[Float])]
        .mapPartitions { it =>
          val lists = new java.util.HashMap[Long,
            scala.collection.mutable.ArrayBuffer[(Int, Long, Array[Float])]]()
          it.foreach { row =>
            var b = lists.get(row._1)
            if (b == null) {
              b = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Array[Float])]
              lists.put(row._1, b)
            }
            b += ((row._2, row._3, row._4))
          }
          val vals = lists.values().iterator()
          new Iterator[(Long, Long, Double)] {
            private var out: Iterator[(Long, Long, Double)] = Iterator.empty
            override def hasNext: Boolean = {
              while (!out.hasNext && vals.hasNext) {
                val ms = vals.next().sortBy(_._1)
                out = listMemberEdges(ms.map(_._2).toArray, ms.map(_._3).toArray,
                  isL2, isCos, mSel)
              }
              out.hasNext
            }
            override def next(): (Long, Long, Double) = {
              if (!hasNext) throw new NoSuchElementException
              out.next()
            }
          }
        }.toDF("src", "dst", "d")
      // d is symmetric and bit-identical in both directions/queries, so
      // min(d) is a pure dedupe (one groupBy beats a window here)
      val ag = und.groupBy(col("src"), col("dst")).agg(min(col("d")).as("w"))
      if (!richDense(queries.count(), kk, base.count())) {
        // sparse training lists: weight-ranked cap (the measured-good
        // low-density branch — every catalog artifact and oracle)
        ag.withColumn("erk", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("src")).orderBy(col("w"), col("dst"))))
          .filter(col("erk") <= RichDeg)
          .select(col("src"), col("erk").cast("int").as("erk"), col("dst"), col("w"))
      } else {
        // dense training lists: occlusion-pruned selection (the
        // reference's M_pjbp rule — candidate c is REJECTED when some
        // already-kept neighbor k occludes it: d(c, k) <= d(c, src);
        // the same RNG predicate roar_projection_graph's fold applies
        // per list, here applied per SOURCE over its pooled
        // candidates). Candidates scan in strict (w, dst) order, so
        // kept edges stay weight-ranked and the erk-prefix property
        // ("one artifact serves every traversal degree") holds.
        // Engine-only branch by construction: the gate cannot fire on
        // any corpus an oracle runs against (same static-SQL
        // convention as the pqMFor/routed-knob scale tiers);
        // RichOcclusionSpec pins it against a driver-side plain-Scala
        // re-selection, bit for bit.
        // slim pool first (ids + w only), checkpointed so the window
        // sort's shuffle files can free before the fat vector join —
        // the N·pool·(vector) rows are the dense build's disk bill
        val pool = ag.withColumn("crk", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("src")).orderBy(col("w"), col("dst"))))
          .filter(col("crk") <= RichOccPool)
          .select(col("src"), col("dst"), col("w"))
          .localCheckpoint()
        val deg = RichDeg
        // sort-run kernel, not collect_list: the shuffle sort delivers
        // each source's candidates already in the strict (w, dst) scan
        // order, so occlusion is an online pass holding only the ≤ deg
        // kept vectors — zero aggregation state, rows stream through
        pool
          .join(base.select(col("bid").as("dst"), col("bv").as("dv")), Seq("dst"))
          .select(col("src"), col("w"), col("dst"), col("dv"))
          .repartition(col("src"))
          .sortWithinPartitions(col("src"), col("w"), col("dst"))
          .as[(Long, Double, Long, Array[Float])]
          .mapPartitions { it =>
            val buf = it.buffered
            new Iterator[(Long, Int, Long, Double)] {
              private var out: Iterator[(Long, Int, Long, Double)] = Iterator.empty
              private def emitRun(): Unit = {
                if (!buf.hasNext) return
                val src = buf.head._1
                val kept = scala.collection.mutable.ArrayBuffer.empty[(Double, Long, Array[Float])]
                while (buf.hasNext && buf.head._1 == src) {
                  val (_, w, dst, dv) = buf.next()
                  if (kept.length < deg) {
                    var occluded = false
                    var ki = 0
                    while (!occluded && ki < kept.length) {
                      if (fdist(isL2, isCos, dv, kept(ki)._3) <= w) occluded = true
                      ki += 1
                    }
                    if (!occluded) kept += ((w, dst, dv))
                  }
                }
                out = kept.iterator.zipWithIndex.map { case ((w, dst, _), i) =>
                  (src, i + 1, dst, w)
                }
              }
              override def hasNext: Boolean = {
                while (!out.hasNext && buf.hasNext) emitRun()
                out.hasNext
              }
              override def next(): (Long, Int, Long, Double) = {
                if (!hasNext) throw new NoSuchElementException
                out.next()
              }
            }
          }.toDF("src", "erk", "dst", "w")
          .select(col("src"), col("erk").cast("int").as("erk"), col("dst"), col("w"))
      }
  }

  /** The kernels' shared float-widened left-fold distance (identical
    * to Vec.metricDist's VecL2Sq→sqrt / VecCosine / VecDot forms). */
  private[graft] def fdist(isL2: Boolean, isCos: Boolean,
      a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var e = 0
    if (isL2) {
      var s = 0.0
      while (e < n) { val df = a(e).toDouble - b(e).toDouble; s += df * df; e += 1 }
      math.sqrt(s)
    } else if (isCos) {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      while (e < n) {
        val x = a(e).toDouble; val y = b(e).toDouble
        dot += x * y; na += x * x; nb += y * y; e += 1
      }
      -(dot / math.sqrt(na * nb))
    } else {
      var dot = 0.0
      while (e < n) { dot += a(e).toDouble * b(e).toDouble; e += 1 }
      -dot
    }
  }

  /** The retired joins form of the member-kNN stage (self-join on qid
    * → window top-M) — kept ONLY as RichKernelSpec's oracle for the
    * local-kernel rewrite above; never call it at scale. */
  private[graft] def richGraphFromJoins(base: DataFrame, queries: DataFrame,
      metric: String, kk: Int): DataFrame = {
      val topk = BruteForce.topk(base, queries, metric, kk)
        .select(col("qid"), col("rnk").cast("int").as("rnk"), col("bid"))
        .localCheckpoint()
      val mem = topk.join(base, Seq("bid"))
        .select(col("qid"), col("rnk"), col("bid"), col("bv"))
      val pairs = mem.select(col("qid"), col("rnk").as("r1"), col("bid").as("tbid"), col("bv").as("v1"))
        .join(mem.select(col("qid"), col("rnk").as("r2"), col("bid").as("cbid"), col("bv").as("v2")), Seq("qid"))
        .filter(col("r1") =!= col("r2"))
        .select(col("qid"), col("r1"), col("tbid"), col("cbid"),
          Vec.metricDist(metric)(col("v1"), col("v2")).as("d"))
      val sel = pairs.withColumn("mrn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("qid"), col("r1")).orderBy(col("d"), col("cbid"))))
        .filter(col("mrn") <= RichM)
      val und = sel.select(col("tbid").as("src"), col("cbid").as("dst"), col("d"))
        .union(sel.select(col("cbid").as("src"), col("tbid").as("dst"), col("d")))
      val ag = und.groupBy(col("src"), col("dst")).agg(min(col("d")).as("w"))
      ag.withColumn("erk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("src")).orderBy(col("w"), col("dst"))))
        .filter(col("erk") <= RichDeg)
        .select(col("src"), col("erk").cast("int").as("erk"), col("dst"), col("w"))
  }

  /** The rich-build CTE chain (ends at `rer`(src, dst, w, erk)) —
    * shared by roar_rich_graph's oracle and the routed-search oracles
    * (HnswQs3), which also staleness-guard the persisted artifacts.
    * Metric-parameterized like the Spark build. */
  private[queries] def sqlRichCtesFor(metric: String): String = s"""
      rq AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id % 50 = 0),
      rb AS MATERIALIZED (SELECT vec_id AS bid, embedding::DOUBLE[] AS bv FROM embeddings WHERE vec_id % 50 <> 0),
      rkn AS (SELECT CASE WHEN (SELECT COUNT(*) FROM rb) <= 1000000 THEN $RichK ELSE 96 END AS rk),
      rsc AS (SELECT qid, bid, ${Vec.sqlMetricDist(metric, "qv", "bv")} AS dist FROM rb CROSS JOIN rq),
      rrr AS (SELECT qid, bid, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist ASC, bid) AS INT) AS rnk
             FROM rsc),
      rtopk AS (SELECT qid, bid, rnk FROM rrr WHERE rnk <= (SELECT rk FROM rkn)),
      rmem AS MATERIALIZED (SELECT t.qid, t.rnk, t.bid, e.bv AS v FROM rtopk t JOIN rb e ON e.bid = t.bid),
      rpr AS (SELECT m1.qid, m1.rnk AS r1, m1.bid AS tbid, m2.bid AS cbid,
                    ${Vec.sqlMetricDist(metric, "m1.v", "m2.v")} AS d
             FROM rmem m1 JOIN rmem m2 ON m1.qid = m2.qid AND m1.rnk <> m2.rnk),
      rsel AS MATERIALIZED (SELECT qid, r1, tbid, cbid, d FROM (
                SELECT rpr.*, ROW_NUMBER() OVER (PARTITION BY qid, r1 ORDER BY d, cbid) AS mrn
                FROM rpr) WHERE mrn <= $RichM),
      rund AS (SELECT tbid AS src, cbid AS dst, d FROM rsel
              UNION ALL
              SELECT cbid AS src, tbid AS dst, d FROM rsel),
      rag AS (SELECT src, dst, MIN(d) AS w FROM rund GROUP BY src, dst),
      rer AS MATERIALIZED (SELECT src, dst, w,
                    CAST(ROW_NUMBER() OVER (PARTITION BY src ORDER BY w, dst) AS INT) AS erk
             FROM rag)"""

  private[queries] val sqlRichCtes: String = sqlRichCtesFor("l2")

  /** Catalog surface of the rich build — loads the artifact (building
    * on a miss) so repeat runs time a parquet read, exactly like
    * bridge_edges; fully oracle-able (no folds, no iteration). */
  val roarRichGraph = Q(
    "roar_rich_graph",
    (s, dir) => richGraph(s, dir).orderBy(col("src"), col("erk")),
    Some(s"""
      WITH $sqlRichCtes
      SELECT src, erk, dst, w FROM rer WHERE erk <= $RichDeg
      ORDER BY src, erk
    """))

  /** HNSW neighbor-selection with the diversity heuristic: per (level,
    * node) take the 8 nearest same-level candidates and occlusion-prune
    * to M=4 — a candidate is dropped when it sits closer to an
    * already-selected neighbor than to the node itself (the classic
    * HNSW select-neighbors heuristic; the reference's literal
    * _select_neighbors, hnsw_cosine_status_high.py:404-408, is plain
    * top-M — hnsw_layers IS that form exactly — so this operator adds
    * the diversity rule the heuristic variant contributes, same
    * occlusion fold as roar_projection_graph). Edges that survive give
    * a sparser, longer-range adjacency at equal M.
    *
    * Scale shape: per (level, node) an 8-candidate pairwise block +
    * bounded fold — nodes×64 small rows per level, never N². */
  val hnswDiverseNeighbors = Q(
    "hnsw_diverse_neighbors",
    (s, dir) => {
      val MaxCand = 8
      val MaxSel = 4
      val emb = Tables.t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"), levelCol(col("vec_id")).as("lvl"))
      // per-level topk constructions forked (guide §2.6) — same
      // reasoning as hnsw_layers: the query-side collects are
      // independent sequential driver actions otherwise
      val perLevel = graft.operators.Par.withPool { pp =>
        (0 to MaxLevel).map { l => pp.fork {
          val nodes = emb.filter(col("lvl") >= l)
          BruteForce.topk(
            nodes.select(col("vec_id").as("bid"), col("embedding").as("bv")),
            nodes.select(col("vec_id").as("qid"), col("embedding").as("qv")),
            "l2", MaxCand, excludeSelf = true)
            .select(lit(l).as("level"), col("qid").as("src"),
              col("rnk").cast("int").as("rnk"), col("bid").as("dst"), col("score").as("dsrc"))
        } }.map(_()).reduce(_.union(_)).localCheckpoint()
      }
      val vecs = Tables.t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val cwv = perLevel.join(vecs, col("dst") === col("vec_id"))
        .select(col("level"), col("src"), col("rnk"), col("dst"), col("dsrc"), col("embedding").as("v"))
      // candidate-candidate distances, rank-indexed ((r1-1)*8 + r2,
      // diagonal 0) so the fold reads a flat 64-slot array
      val pp = cwv.select(col("level"), col("src"), col("rnk").as("r1"), col("v").as("v1"))
        .join(cwv.select(col("level"), col("src"), col("rnk").as("r2"), col("v").as("v2")),
          Seq("level", "src"))
        .select(col("level"), col("src"), col("r1"), col("r2"),
          when(col("r1") === col("r2"), lit(0.0))
            .otherwise(Vec.l2Fast(col("v1"), col("v2"))).as("d"))
      val dm = pp.groupBy(col("level"), col("src")).agg(
        transform(
          array_sort(collect_list(struct(((col("r1") - 1) * MaxCand + col("r2")).as("k"), col("d")))),
          x => x.getField("d")).as("dmat"))
      val per = perLevel.groupBy(col("level"), col("src")).agg(
        transform(array_sort(collect_list(struct(col("rnk"), col("dst")))),
          x => x.getField("dst")).as("dsts"),
        transform(array_sort(collect_list(struct(col("rnk"), col("dsrc")))),
          x => x.getField("dsrc")).as("dvec"),
        max(col("rnk")).as("nc"))
      // index by the ACTUAL candidate count nc, not the 8-wide maximum:
      // a level with nc < MaxCand flattens to an nc×nc matrix, and a
      // dense-8 formula would read diagonal zeros / NULLs and corrupt
      // every occlusion decision on sparse levels
      def dAt(c: Column, r: Column): Column =
        element_at(col("dmat"), ((c - 1) * col("nc") + r).cast("int"))
      // candidates arrive in kNN rank order; pivot = rank 1
      // sequence() descends when start > stop, so clamp and re-guard
      // with c > nc (mirrors the oracle's "$k > nc" bound)
      val selCol = aggregate(
        sequence(lit(2), greatest(col("nc"), lit(2))),
        array(lit(1)),
        (acc, c) => when(
          c > col("nc") || size(acc) >= MaxSel ||
            exists(acc, sc => dAt(c, sc) <= element_at(col("dvec"), c.cast("int"))),
          acc).otherwise(concat(acc, array(c.cast("int")))))
      per.join(dm, Seq("level", "src"))
        .select(col("level"), col("src"), col("dsts"), col("dvec"), selCol.as("sel"))
        .select(col("level"), col("src"), col("dsts"), col("dvec"),
          posexplode(col("sel")).as(Seq("si0", "c")))
        .select(col("level"), col("src"), (col("si0") + 1).as("sel_rnk"),
          element_at(col("dsts"), col("c").cast("int")).as("dst"),
          element_at(col("dvec"), col("c").cast("int")).as("dist"))
        .orderBy(col("level"), col("src"), col("sel_rnk"))
    },
    Some {
      val MaxCand = 8
      val MaxSel = 4
      val levels = (0 to MaxLevel).map { l =>
        s"""
        SELECT $l AS level, src, rnk, dst, dsrc FROM (
          SELECT a.vec_id AS src, b.vec_id AS dst,
                 sqrt(${Vec.sqlL2sq("a.v", "b.v")}) AS dsrc,
                 CAST(ROW_NUMBER() OVER (PARTITION BY a.vec_id
                      ORDER BY sqrt(${Vec.sqlL2sq("a.v", "b.v")}) ASC, b.vec_id) AS INT) AS rnk
          FROM lv a CROSS JOIN lv b
          WHERE a.lvl >= $l AND b.lvl >= $l AND a.vec_id <> b.vec_id)
        WHERE rnk <= $MaxCand"""
      }.mkString(" UNION ALL ")
      val steps = (2 to MaxCand).map { k =>
        s"""t$k AS (SELECT level, src, dsts, dvec, dmat, nc,
             CASE WHEN $k > nc OR len(sel) >= $MaxSel OR len(list_filter(sel,
                 s -> dmat[($k - 1) * nc + s] <= dvec[$k])) > 0
             THEN sel ELSE list_append(sel, $k) END AS sel FROM t${k - 1})"""
      }.mkString(",\n      ")
      s"""
      WITH lv AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                         ${sqlLevel("vec_id")} AS lvl
                  FROM embeddings),
      knn AS ($levels),
      cwv AS (SELECT k.level, k.src, k.rnk, k.dst, k.dsrc, e.v
              FROM knn k JOIN lv e ON e.vec_id = k.dst),
      pp AS (SELECT c1.level, c1.src, c1.rnk AS r1, c2.rnk AS r2,
                    CASE WHEN c1.rnk = c2.rnk THEN 0.0
                         ELSE sqrt(${Vec.sqlL2sq("c1.v", "c2.v")}) END AS d
             FROM cwv c1 JOIN cwv c2 ON c1.level = c2.level AND c1.src = c2.src),
      dm AS (SELECT level, src, list(d ORDER BY (r1 - 1) * $MaxCand + r2) AS dmat
             FROM pp GROUP BY level, src),
      per AS (SELECT level, src, list(dst ORDER BY rnk) AS dsts,
                     list(dsrc ORDER BY rnk) AS dvec, MAX(rnk) AS nc
              FROM knn GROUP BY level, src),
      t1 AS (SELECT p.level, p.src, p.dsts, p.dvec, dm.dmat, p.nc, [1] AS sel
             FROM per p JOIN dm ON dm.level = p.level AND dm.src = p.src),
      $steps,
      ex AS (SELECT level, src, dsts, dvec, u.si, u.c
             FROM (SELECT level, src, dsts, dvec,
                          unnest(list_transform(range(1, len(sel) + 1),
                                 i -> {'si': i, 'c': sel[i]})) AS u
                   FROM t$MaxCand))
      SELECT level, src, CAST(si AS INTEGER) AS sel_rnk, dsts[c] AS dst, dvec[c] AS dist
      FROM ex
      ORDER BY level, src, sel_rnk
    """
    })

  val qs: Seq[Q] = Seq(hnswLayers, filteredTopk, multiEntrySearch, annQualitySweep,
    bridgeEdges, hnswDiverseNeighbors, roarRichGraph)
}
