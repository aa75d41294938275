package graft.queries

import graft.functions.Vec
import graft.operators.{BeamSearch, BruteForce, Pool, VecFold}
import graft.{Q, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Round-6 HNSW diagnostics: the PHASE-SPLIT search trace — the
  * reference's _search_layer_trace_until_target_with_phases
  * (hnsw_cosine_status_high.py:737) splits a query's journey into the
  * upper-layer greedy descent (layers L..1, ef=1) and the layer-0
  * refinement (wide beam), reporting hops + visited per phase — and the
  * cross-distribution stats counters aggregated over those traces
  * (hnsw_cosine_status_high.py:1195). VERDICT r5 "What's missing" #4 /
  * next-round item 7. */
object HnswQs3 {

  private val UpperEf = 1     // greedy descent beam width (reference upper layers)
  private val UpperRounds = 3 // fixed expansion rounds per upper layer
  private val L0Ef = 10       // layer-0 refinement beam width
  private val L0Rounds = 3

  /** Persisted per-level kNN graphs over BASE nodes only (the search
    * index the trace walks: queries must not be graph members, unlike
    * hnsw_layers' all-ids groundtruth artifact). NO LONGER the exact
    * N²-per-level build (r7 item 2): level-l rows derive from the N·k
    * approximate layered substrate (HnswQs2.approxLayers restricted to
    * base nodes — Round8 spec pins per-level edge recall vs the exact
    * form). Build-once/load-many via ProjIndex — trace queries load,
    * never rebuild. */
  def baseLayers(s: SparkSession, dir: String): DataFrame =
    graft.operators.ProjIndex.ensureTable(s, dir, "hnsw_base_layers_approx_k4") {
      HnswQs2.approxLayers(s, dir, col("vec_id") % 50 =!= 0)
        .select(col("level"), col("src"), col("dst"))
    }

  /** The per-query phase-split trace rows (shared by the trace query
    * and the stats aggregate). Persisted build-once/load-many: the
    * trace is deterministic over a persisted index + fixed query set,
    * and the reference materializes it the same way (the tracing
    * scripts dump per-query traces to files; the stats/plot scripts
    * read the dumps) — computing the identical 3-layer walk twice per
    * bench pass (trace + stats, ~5.5 s each at sf0.1) was the exact
    * inline-rederivation waste VERDICT r5 flagged on bridge_edges.
    * Tag encodes the beam parameters and the approx substrate;
    * staleness protection is the version/tag scheme (the walk itself
    * is no longer SQL-re-derivable over the iterative substrate). */
  private[graft] def phaseTrace(s: SparkSession, dir: String): DataFrame =
    graft.operators.ProjIndex.ensureTable(s, dir,
      s"hnsw_phase_trace_approx_u${UpperEf}r${UpperRounds}_l0e${L0Ef}r$L0Rounds") {
      phaseTraceBuild(s, dir)
    }

  private def phaseTraceBuild(s: SparkSession, dir: String): DataFrame = {
    val layers = baseLayers(s, dir).localCheckpoint()
    val emb = Tables.t(s, dir, "embeddings")
    val base = emb.filter(col("vec_id") % 50 =!= 0)
      .select(col("vec_id").as("bid"), col("embedding").as("bv"))
    val queries = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    // entry = max-degree node of the TOP layer graph (tie: smallest id)
    val entry = layers.filter(col("level") === HnswQs.MaxLevel)
      .groupBy(col("src")).agg(count(lit(1)).as("d"))
      .orderBy(col("d").desc, col("src")).head().getLong(0)
    var seeds = queries.select(col("qid")).withColumn("bid", lit(entry))
    // upper phase: per layer l = MaxLevel..1, an ef=1 greedy walk for
    // UpperRounds fixed rounds; hops = first round already holding the
    // layer's final node (rounds actually needed to converge), visited
    // = distinct nodes scored in the layer (seed + expansions); the
    // final node carries down as the next layer's seed
    val perLayer = (HnswQs.MaxLevel to 1 by -1).map { l =>
      val el = layers.filter(col("level") === l).select(col("src"), col("dst"))
      val (beams, candFirst) = BeamSearch.runTrace(el, queries, base, seeds, UpperEf, UpperRounds,
        kernelInfo = Tables.kernelInfo(s, dir))
      val fin = beams.last.select(col("qid"), col("bid"))
      val hops = beams.zipWithIndex.map { case (b, r) =>
          b.select(col("qid"), col("bid")).withColumn("r", lit(r))
        }
        .reduce(_.union(_))
        .join(fin, Seq("qid", "bid"))
        .groupBy(col("qid")).agg(min(col("r")).cast("int").as(s"l${l}_hops"))
      val vis = candFirst.groupBy(col("qid"))
        .agg(count(lit(1)).as(s"l${l}_visited"))
      seeds = fin
      hops.join(vis, Seq("qid"))
    }
    val l0Entry = seeds.select(col("qid"), col("bid").as("l0_entry"))
    // layer-0 refinement: wide beam from the descent's landing node;
    // steps/visited use beam_steps_to_target's exact semantics
    val e0 = layers.filter(col("level") === 0).select(col("src"), col("dst"))
    val (beams0, cand0) = BeamSearch.runTrace(e0, queries, base, seeds, L0Ef, L0Rounds,
      kernelInfo = Tables.kernelInfo(s, dir))
    val gt1 = VectorQs.gtTopk(s, dir, "l2", 1).filter(col("rnk") === 1)
      .select(col("qid"), col("bid").as("target"))
    val found = beams0.zipWithIndex.map { case (b, r) =>
        b.select(col("qid"), col("bid")).withColumn("r", lit(r))
      }
      .reduce(_.union(_))
      .withColumnRenamed("bid", "target")
      .join(gt1, Seq("qid", "target"))
      .groupBy(col("qid")).agg(min(col("r")).as("fsteps"))
    val st = gt1.join(found, Seq("qid"), "left")
      .select(col("qid"), col("target"),
        coalesce(col("fsteps"), lit(-1)).cast("int").as("l0_steps"))
      .localCheckpoint() // referenced twice below (lesson 8)
    val vis0 = st.join(cand0, Seq("qid"))
      .filter(col("fr") <= when(col("l0_steps") >= 0, col("l0_steps")).otherwise(lit(L0Rounds)))
      .groupBy(col("qid")).agg(count(lit(1)).as("l0_visited"))
    perLayer.reduce(_.join(_, Seq("qid")))
      .join(l0Entry, Seq("qid"))
      .join(st, Seq("qid"))
      .join(vis0, Seq("qid"))
      .select(Seq(col("qid"), col("target")) ++
        (HnswQs.MaxLevel to 1 by -1).flatMap(l =>
          Seq(col(s"l${l}_hops"), col(s"l${l}_visited"))) ++
        Seq(col("l0_entry"), col("l0_steps"), col("l0_visited")): _*)
  }

  /** Phase-split steps-to-target trace: per query, the upper-layer
    * greedy descent (hops to converge + nodes scored, per layer) and
    * the layer-0 refinement (first beam round containing the true NN,
    * nodes scored up to it) over the persisted base-layer index — the
    * reference's per-phase visited/hops instrument for diagnosing
    * where out-of-distribution queries spend their search. Rows-only
    * since the base-layer index became the approx substrate (r7 item
    * 2 — its descent start is iterative, so the walk is no longer
    * SQL-unrollable); PhaseTraceSpec pins the walk's legality and the
    * Round8 spec pins the substrate's per-level recall vs the exact
    * form. */
  val hnswPhaseTrace = Q(
    "hnsw_phase_trace",
    (s, dir) => phaseTrace(s, dir).orderBy(col("qid")),
    None)

  /** Cross-distribution trace statistics (the reference's stats
    * counters, hnsw_cosine_status_high.py:1195): one row summarizing
    * the phase traces — query/found counts, mean per-phase hops and
    * visited, mean steps over found queries. All averages are single
    * divisions of exact integer sums (determinism rule); rows-only
    * with hnsw_phase_trace, and PhaseTraceSpec proves the roll-up
    * equals a driver-side aggregation of the trace rows. */
  val hnswTraceStats = Q(
    "hnsw_trace_stats",
    (s, dir) => phaseTrace(s, dir).agg(
      count(lit(1)).as("n_queries"),
      sum(when(col("l0_steps") >= 0, 1L).otherwise(0L)).as("n_found"),
      avg(col("l2_hops") + col("l1_hops")).as("avg_upper_hops"),
      avg(col("l2_visited") + col("l1_visited")).as("avg_upper_visited"),
      coalesce(avg(when(col("l0_steps") >= 0, col("l0_steps"))), lit(-1.0))
        .as("avg_steps_found"),
      avg(col("l0_visited")).as("avg_l0_visited"),
      max(col("l0_steps")).as("max_l0_steps")),
    None)

  // ---- quantizer-routed graph search (the 1M-proven configuration) ----

  /** Traversal degree: the best-32 erk prefix at every scale — the
    * round-10 10M sweep over the k=96 graph measured deg 32 strictly
    * dominating deg 48 at the catalog's ef (0.997 @ 3,708 visited vs
    * 0.999 @ 4,757); the stored erk ≤ 48 prefix stays available to
    * narrow-beam configs without a rebuild (ef16: deg 48 buys
    * 0.968 → 0.986 for +27% visited). */
  private val RoutedDeg = 32

  // Data-sized search budget (the 10M sweep, docs/scale_run.md §10M):
  // the knobs that are sf-tuned constants in an index-search stack are
  // exactly what dies at 100× — measured at 10M, beam WIDTH is the
  // binding one (ef 16→32 bought +14pt recall where entries 3→8
  // bought +1.3pt), and rounds track the graph diameter. Every rule is
  // integer-arithmetic so the DuckDB oracle's params CTE computes the
  // identical values (the SqlIvf.sizedCtes pattern), and every rule
  // returns the 1M-proven (ef=16, r=5, entries=3) at n ≤ 1M so all
  // test-SF oracle hashes are unchanged.
  //   1M  (measured): ef=16 r=5  e=3 → recall 0.985 @ 0.16% visited
  //   10M (measured, round-11 union-graph sweep on m3):
  //     ef=16 r=5 e=8 → recall 0.9910 @ 0.104% visited; the r10
  //     ef=32 r=9 point read 0.9997 @ 0.227% on the same graph —
  //     2.2× the visited for +0.87pt, so the knee moved down a tier
  //     (in-sample protocol; the held-out story is docs/scale_run.md)
  /** smallest power-of-two ef in [16, 256] with 40000·ef² ≥ n.
    * History of the constant, every step measured: the r9 4000·ef²
    * rule compensated for the sparse k=48 graph with brute width
    * (ef64 at 10M); the r10 k=96 graph reached 0.997 at ef32
    * (16000·ef²); the round-11 sweep over the UNION graph (rich ∪
    * cellKnn — denser again) reads 0.9910 at ef16 where ef32 × 9
    * visited 2.2× more for +0.87pt, so the constant moves to 40000
    * (m3, docs/scale_run.md §routed re-sweep). Each
    * graph densification halves the beam the same recall needs. */
  private[graft] def routedEfFor(n: Long): Int = {
    var e = 16
    while (e < 256 && 40000L * e * e < n) e *= 2
    e
  }
  /** 5 rounds through 10M, +2 per decade beyond, capped at the
    * oracle's unroll — the union graph's beam CONVERGES by round 5 at
    * 10M (rounds 5→9 at ef16 bought +0.14pt for +38% visited; at ef32
    * rounds 9→13 bought +0.0000). The old +4/decade tracked the
    * projection-only graph's diameter; the cellKnn union collapses
    * it. */
  private[graft] val MaxRoutedRounds = 13
  private[graft] def routedRoundsFor(n: Long): Int = {
    var r = 5; var m = 10000000L
    while (r < MaxRoutedRounds && m < n) { r += 2; m *= 10 }
    r
  }
  /** hub + 3 routed entries at ≤1M; 8 beyond (10M: +1.3pt, cheap) */
  private[graft] def routedEntriesFor(n: Long): Int =
    if (n <= 1000000L) 3 else 8
  /** (ef, rounds, entries) for the corpus behind `dir` — the BASE
    * side count, the same n the oracle's rpar CTE computes from bb. */
  private[graft] def routedKnobsFor(s: SparkSession, dir: String): (Int, Int, Int) = {
    val n = Tables.baseCount(s, dir)
    (routedEfFor(n), routedRoundsFor(n), routedEntriesFor(n))
  }

  /** The oracle's data-sized knobs: the SAME integer rules as
    * routedEfFor/routedRoundsFor/routedEntriesFor, as a CASE ladder
    * over the bb count (thresholds are the exact loop boundaries:
    * 40000·ef² for ef, decades for rounds). */
  private val sqlRoutedKnobs = s"""
      rpar AS (SELECT COUNT(*) AS n FROM bb),
      rknobs AS (SELECT
        CASE WHEN n <= 10240000 THEN 16 WHEN n <= 40960000 THEN 32
             WHEN n <= 163840000 THEN 64 WHEN n <= 655360000 THEN 128
             ELSE 256 END AS ef,
        CASE WHEN n <= 10000000 THEN 5 WHEN n <= 100000000 THEN 7
             WHEN n <= 1000000000 THEN 9 WHEN n <= 10000000000 THEN 11
             ELSE 13 END AS rr,
        CASE WHEN n <= 1000000 THEN 3 ELSE 8 END AS ents
        FROM rpar)"""

  /** Beam rounds over `proj` seeded by rbeam0 — MATERIALIZED like the
    * phase trace's (5 rounds × multi-reference would re-inline the
    * whole rich-graph chain exponentially otherwise). Metric-
    * parameterized with the Spark beam (dist = Vec.sqlMetricDist).
    *
    * Data-sizing in STATIC SQL: the unroll is structural, so it always
    * spans MaxRoutedRounds; a round past the corpus's rknobs.rr is a
    * PASS-THROUGH — its expansion CTE is gated empty, and re-ranking a
    * beam that is already ≤ ef rows per query reproduces it exactly.
    * The Spark side simply builds rknobs.rr rounds at plan time. */
  private def sqlRoutedRounds(metric: String): String =
    (1 to MaxRoutedRounds).map { r =>
      s"""rex$r AS MATERIALIZED (SELECT DISTINCT b.qid, e.dst AS bid
             FROM rbeam${r - 1} b JOIN proj e ON e.src = b.bid
             WHERE $r <= (SELECT rr FROM rknobs)),
      rrs$r AS (SELECT x.qid, x.bid, ${Vec.sqlMetricDist(metric, "q.qv", "v.v")} AS dist
               FROM rex$r x JOIN qq q ON q.qid = x.qid JOIN bb v ON v.bid = x.bid),
      rrun$r AS (SELECT DISTINCT qid, bid, dist FROM
                 (SELECT qid, bid, dist FROM rbeam${r - 1}
                  UNION ALL SELECT qid, bid, dist FROM rrs$r)),
      rbeam$r AS MATERIALIZED (SELECT qid, bid, dist FROM (
                   SELECT qid, bid, dist,
                          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, bid) AS rn
                   FROM rrun$r) WHERE rn <= (SELECT ef FROM rknobs))"""
    }.mkString(",\n      ")

  /** Quantizer-routed wide graph search — entries = the max-degree
    * hub PLUS the query's nearest anchor nodes (one candidate anchor
    * per cell of the persisted data-sized quantizer), wide beam over
    * the UNION of the rich projection graph's best-32 edges and the
    * cell-kNN substrate (round 10: the projection alone answers only
    * queries whose lists were baked in at build — held-out recall
    * 0.068; the union restores generalization, see cellKnn). All
    * index artifacts load persisted; fully deterministic, so unlike
    * the timed sweep this operating point is oracle-able end to end
    * (rich chain + SqlIvf quantizer + cell-kNN CTE + unrolled beam). */
  /** The persisted entry-resolution ladder (Ivf.entryLadder) for the
    * corpus behind `dir` — quantized mean-d² per doubling depth over
    * the base side, built once and loaded thereafter (the ladder is a
    * build-time corpus measurement, exactly the lesson-20 artifact
    * shape). */
  /** Persisted-ladder artifact name: keyed by the cap ONLY when the
    * round-15 data-sized extension binds (n ≳ 262k — never a test SF,
    * so the historical "entry_ladder" name and every driver hash are
    * untouched). A pre-extension persisted ladder must not silently
    * serve a shallower resolution after the rule change (lesson 11). */
  private[graft] def entryLadderName(n: Long): String = {
    val cap = graft.operators.Ivf.entryCapCells(n)
    val legacyCap = math.min(
      math.min(graft.operators.Ivf.cellsFor(n).toLong *
        graft.operators.Ivf.EntryMaxMult, graft.operators.Ivf.MaxCells.toLong),
      n - 1)
    if (cap == legacyCap) "entry_ladder" else s"entry_ladder_c$cap"
  }
  private[graft] def entryLadderTable(s: SparkSession, dir: String): Seq[(Int, Double)] = {
    val n0 = Tables.baseCount(s, dir)
    val df = graft.operators.ProjIndex.ensureTable(s, dir, entryLadderName(n0)) {
      val n = Tables.baseCount(s, dir)
      val emb = Tables.t(s, dir, "embeddings").filter(col("vec_id") % 50 =!= 0)
        .select(col("vec_id"), col("embedding"))
      import s.implicits._
      graft.operators.Ivf.entryLadder(emb, n).toDF("cells", "mean_d2").coalesce(1)
    }
    df.orderBy(col("cells")).collect()
      .map(r => (r.getInt(0), r.getDouble(1))).toSeq
  }

  /** The resolved entry-quantizer depth for the routed search's
    * anchors (lesson 42, wired into the catalog in round 11): the
    * deepest ladder doubling whose improvement ratio is still
    * structural, the base `Ivf.cellsFor` depth when none is — m7
    * measured the difference on a 4,096-cluster 1M corpus as recall
    * 0.24 → 0.876 (docs/scale_run.md §m7): `cellsFor` anchors track
    * √N, not cluster count, and a beam seeded below the corpus's
    * cluster resolution exhausts its graph components. Corpora with
    * no valid ladder step (n ≤ cellsFor(n)) resolve to base. */
  private[graft] def resolvedEntryCells(s: SparkSession, dir: String): Int = {
    val c0 = graft.operators.Ivf.cellsFor(Tables.baseCount(s, dir))
    val lad = entryLadderTable(s, dir)
    if (lad.isEmpty) c0
    else graft.operators.Ivf.entryCellsFor(lad,
      graft.operators.Ivf.dimOf(Tables.t(s, dir, "embeddings")))
  }

  /** The routing table (nearest base node per ENTRY-quantizer cell) is
    * part of the index, not the query — build-once/load-many like the
    * graph and quantizer it derives from (warmed by Bench alongside
    * them). The entry quantizer's depth comes from the corpus's own
    * error ladder (resolvedEntryCells); when the resolver holds at
    * base the shared sweep quantizer IS the entry quantizer (the
    * ladder's base chain is bit-identical to sweepIvf's build), and a
    * deeper resolve trains a finer one at the same stride/init/
    * iteration rules — the artifact tag carries the resolved depth so
    * a data change can never serve stale anchors.
    * Until round 10 anchors were restricted to rich-graph MEMBERS (a
    * non-member anchor scored but never expanded); with the cell-kNN
    * union every base node has out-edges, so the restriction is gone
    * and one L2 cell→node table serves every metric (the `metric`
    * parameter is kept for call-site compatibility). */
  private[graft] def routedAnchors(s: SparkSession, dir: String,
      metric: String = "l2"): DataFrame = {
    val n = Tables.baseCount(s, dir)
    val c0 = graft.operators.Ivf.cellsFor(n)
    val aq = resolvedEntryCells(s, dir)
    graft.operators.ProjIndex.ensureTable(s, dir, s"routed_anchor_nodes_aq$aq") {
      val base = Tables.t(s, dir, "embeddings").filter(col("vec_id") % 50 =!= 0)
        .select(col("vec_id").as("bid"), col("embedding").as("bv"))
      // centroids-only artifact (r11 ADVICE 4): the anchor build
      // consumes nothing but the entry quantizer's centers, so the
      // deepen branch persists them via ensureTable instead of paying
      // an ensureIvf's full-base assignment scan + N-row parquet
      // write that no consumer reads
      val cents =
        if (aq == c0) HnswQs.sweepIvf(s, dir)._1
        else graft.operators.ProjIndex.ensureTable(s, dir, s"entry_cents_aq$aq") {
          val embB = base.select(col("bid").as("vec_id"), col("bv").as("embedding"))
          val stride = graft.operators.Ivf.trainStrideFor(n, aq)
          val train = if (stride <= 1L) embB
            else embB.filter(col("vec_id") % stride === 0)
          graft.operators.Ivf.centroids(train, aq, 2)
        }
      BruteForce.topk(
        base,
        cents.select(col("cid").as("qid"), col("cv").cast("array<float>").as("qv")),
        "l2", 1)
        .select(col("bid")).distinct()
    }
  }

  /** Two-level seed selection over the resolved anchor bank (round
    * 13 — the round-12 cost-model fix wired into the catalog). The
    * exact full-bank scan this replaces was 84% of routed query-time
    * distance evals at resolved depths (~6.5k anchors at aq = 8,192);
    * the coarse level cuts seed evals to O(√bank·tl) at held-out
    * recall equal to four decimals on three corpora (docs/
    * scale_run.md "Two-level seeding MEASURED"). The reference
    * amortizes the same cost through its layer hierarchy
    * (hnsw_cosine_status_high.py's upper-layer greedy descent visits
    * O(log N) nodes before layer 0) — this is that hierarchy's
    * two-stage broadcast-join analog.
    *
    * Returns (coarse float centroids (cid, cvf), anchor→cell rows
    * (bid, cid, bv), cc, tl). The coarse k-means over the bank is a
    * build-once/load-many artifact tagged with the resolved entry
    * depth (`seed_cents_aq$aq` — the bank is a pure function of aq,
    * so the tag staleness-guards it); the anchor→cell assignment is
    * a map-only rederivation over the k-sized bank at load. At every
    * test SF the bank is ≤ 256 anchors → cc = 16 = tl: the two-level
    * pick sits on its BITWISE-exact endpoint (SeedSelectSpec), so
    * sf0.001/0.01 oracle hashes are unchanged by the wiring; sf0.1
    * (aq = 512, cc = 32) and every scale corpus run the approximate
    * branch (cross-engine replay: SeedWireSpec +
    * tools/check_seed_branch.py). */
  // session-lifetime memo of the level KNOBS only — (cc, tl) cost a
  // bank-count action and a bench pass resolves them three times (two
  // metrics + the counted-artifact build). The level TABLES stay lazy
  // and recomputable on purpose: Bench clears leftover checkpoint RDD
  // blocks between timings (lesson 34), so a memoized checkpointed
  // DataFrame dies between queries — truncated lineage, no recompute.
  private val seedKnobMemo =
    scala.collection.concurrent.TrieMap.empty[(String, Int), (Int, Int)]

  private[graft] def seedLevels(s: SparkSession, dir: String,
      base: DataFrame, metric: String = "l2"): (DataFrame, DataFrame, Int, Int) = {
    val ss = graft.operators.SeedSelect
    val aq = resolvedEntryCells(s, dir)
    val bank = routedAnchors(s, dir, metric).join(base, Seq("bid"))
      .select(col("bid").as("vec_id"), col("bv").as("embedding"))
    val (cc, tl) = seedKnobMemo.getOrElseUpdate((dir, aq), {
      val c = ss.coarseCellsFor(bank.count())
      (c, ss.tlFor(c))
    })
    val cents = graft.operators.ProjIndex.ensureTable(s, dir, s"seed_cents_aq$aq") {
      graft.operators.Ivf.centroids(bank.localCheckpoint(), cc, 2)
    }
    val aCells = graft.operators.Ivf.assign(bank, cents)
      .select(col("vec_id").as("bid"), col("cid"), col("embedding").as("bv"))
    (cents.select(col("cid"), col("cv").cast("array<float>").as("cvf")),
      aCells, cc, tl)
  }

  /** Cell-local base kNN — the universal connectivity substrate the
    * round-10 held-out probe showed the projection graph lacks. A
    * bipartite projection graph's members are exactly the training
    * queries' top-k lists; at 10M, 10k × k=96 lists cover ~8% of the
    * base, and a query the build never saw finds almost nothing
    * (held-out recall 0.068 vs 0.983 in-sample — round-10 held-out
    * probe, docs/scale_run.md §held-out test). The
    * reference's own pipeline does not stop at the projection either:
    * it refines with NN-Descent over the base so the final index SPANS
    * the base (t2i-10M: 10M nodes, avg degree 43.6,
    * README_RoarGraph.md:56-60; roargraph_python.py:177-294). This is
    * that spanning substrate in one bounded pass: each base vector's
    * top-$CellK L2 neighbors WITHIN its data-sized quantizer cell
    * (the shared sweepIvf artifact), computed by a per-cell
    * mapPartitions kernel: cells hash-shuffle to tasks (ONE shuffle of
    * N rows), each task walks its cells as sorted runs and fills
    * k-bounded per-node pools in O(m²/2) symmetric distance evals —
    * the candidate PAIRS never exist as rows. The SMJ + TopKAgg
    * formulation this replaces streamed the ~|cell|²·cells pair rows
    * (1e11 at 10M) into a 10M-group aggregation whose sort-based
    * fallback filled the disk in the round-10 scale run — spill
    * tracks generated-row volume, the same lesson-22 failure as the
    * old IVF/PQ assignments. The pools are TopKAgg's own (Pool) and
    * dist is the float-widened left-fold sqrt (VecFold.l2, as
    * Vec.l2Fast), so the kernel output is bit-identical to the
    * join+perGroup form at any partition count — CellKnnSpec enforces
    * it, and the DuckDB oracle keeps re-deriving the same edges from
    * its ROW_NUMBER CTE.
    * Cell-boundary neighbors are sacrificed (the projection edges and
    * multi-cell routed entries cover cross-cell travel); in exchange
    * EVERY base node is a graph member with local out-edges.
    * Metric note: cell edges are L2-local like the quantizer itself;
    * the beam rescores candidates in the query's metric, so one
    * substrate serves all metrics (same convention as the L2
    * cell→member routing). */
  private[graft] val CellK = 8
  private[graft] def cellKnn(s: SparkSession, dir: String): DataFrame =
    graft.operators.ProjIndex.ensureTable(s, dir, s"cell_knn_k$CellK") {
      val (_, assigned) = HnswQs.sweepIvf(s, dir)
      cellKnnKernel(assigned, CellK)
    }

  /** Per-cell population bound (round 11 — VERDICT r10 "What's wrong"
    * 2): a cell's m²/2 distance evals all land in ONE task, and cells
    * grow ≈ 4√N under Ivf.cellsFor — at 1e9 vectors ~122k rows/cell ≈
    * 7.5e9 evals per task even unskewed, and a hot cell is worse.
    * Cells above this population split into ceil(pop/bound)
    * deterministic blocks (block id = vec_id mod B — partition-
    * invariant, no rank window) and every block PAIR becomes its own
    * task emitting k-bounded partial pools; a TopKAgg merge per node
    * reassembles the exact pools. Output-INVARIANT by construction:
    * per-block-pair pools use the same insert (Pool) TopKAgg merges
    * by, and the top-k of a union of per-part top-k's is the
    * global top-k. CellKnnSpec pins bit-equality on a corpus skewed
    * into one giant cell. Per-task work is ≤ bound² evals (~2.7e8 at
    * 16384) no matter how skewed the corpus; rows shuffled for a
    * split cell are pop·B, both bounded and measurable up front with
    * cluster_quality's population stats (a pre-flight, like the
    * band-bucket pair mass for banded joins). */
  private[graft] val CellSplitPop = 16384

  /** The per-cell exact-kNN kernel over (cid, vec_id, embedding). */
  private[graft] def cellKnnKernel(assigned: DataFrame, k: Int,
      splitPop: Int = CellSplitPop): DataFrame = {
    val s = assigned.sparkSession
    import s.implicits._
    val rows = assigned
      .select(col("cid").cast("long").as("cid"), col("vec_id"),
        col("embedding").cast("array<float>").as("embedding"))
    // cell populations: one tiny aggregate over ≤ Ivf.cellsFor(N)
    // cells — the k-sized-bank collect the design rules allow
    val pops: Map[Long, Long] = rows.groupBy(col("cid")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nBlocksOf: Map[Long, Int] =
      pops.collect { case (c, p) if p > splitPop =>
        c -> ((p + splitPop - 1) / splitPop).toInt }
    if (nBlocksOf.isEmpty) cellKnnSinglePass(rows, k)
    else {
      val bc = s.sparkContext.broadcast(nBlocksOf)
      val bigCids = nBlocksOf.keys.toSeq
      val small = rows.filter(!col("cid").isin(bigCids: _*))
      val big = rows.filter(col("cid").isin(bigCids: _*))
      // each row of a split cell visits every block pair its block is
      // in: (bi, bj) with bi <= bj, row's block on either side
      val paired = big.as[(Long, Long, Array[Float])].flatMap { case (cid, id, v) =>
        val nb = bc.value(cid)
        val b = ((id % nb + nb) % nb).toInt
        (0 until nb).map { o =>
          val bi = math.min(b, o); val bj = math.max(b, o)
          (cid, bi, bj, b, id, v)
        }
      }.toDF("cid", "bi", "bj", "blk", "vec_id", "embedding")
      val partial = cellKnnBlockPairs(paired, k)
      val merged = graft.operators.TopK.perGroup(
        partial, "src", "dst", "dist", k, asc = true)
        .select(col("src"), col("rnk"), col("dst"), col("dist"))
      cellKnnSinglePass(small, k).unionByName(merged)
    }
  }

  /** Block-pair partial pools for split cells: rows of (cid, bi, bj,
    * blk, vec_id, embedding), one task per (cid, bi, bj) run; emits
    * (src, dst, dist) — each node's ≤ k best candidates WITHIN this
    * block pair, same insert rule as the single-pass pools. */
  private def cellKnnBlockPairs(paired: DataFrame, k: Int): DataFrame = {
    val s = paired.sparkSession
    import s.implicits._
    paired
      .repartition(col("cid"), col("bi"), col("bj"))
      .sortWithinPartitions(col("cid"), col("bi"), col("bj"), col("blk"), col("vec_id"))
      .as[(Long, Int, Int, Int, Long, Array[Float])]
      .mapPartitions { it =>
        val buf = it.buffered
        new Iterator[(Long, Long, Double)] {
          private var out: Iterator[(Long, Long, Double)] = Iterator.empty
          private def emitGroup(): Unit = {
            if (!buf.hasNext) return
            val key = (buf.head._1, buf.head._2, buf.head._3)
            val ids = scala.collection.mutable.ArrayBuffer[Long]()
            val vecs = scala.collection.mutable.ArrayBuffer[Array[Float]]()
            val blks = scala.collection.mutable.ArrayBuffer[Int]()
            while (buf.hasNext && (buf.head._1, buf.head._2, buf.head._3) == key) {
              val (_, _, _, b, id, v) = buf.next()
              blks += b; ids += id; vecs += v
            }
            val (_, bi, bj) = key
            val m = ids.length
            val pools = Array.fill(m)(Pool(k))
            def score(i: Int, j: Int): Unit = {
              val dist = VecFold.l2(vecs(i), vecs(j))
              pools(i).insert(dist, ids(j), asc = true)
              pools(j).insert(dist, ids(i), asc = true)
            }
            if (bi == bj) {
              // intra-block: every unordered pair once
              var i = 0
              while (i < m) { var j = i + 1; while (j < m) { score(i, j); j += 1 }; i += 1 }
            } else {
              // cross-block: left×right pairs only (intra pairs belong
              // to the (bi,bi)/(bj,bj) groups)
              var i = 0
              while (i < m) {
                if (blks(i) == bi) {
                  var j = 0
                  while (j < m) { if (blks(j) == bj) score(i, j); j += 1 }
                }
                i += 1
              }
            }
            out = Iterator.range(0, m).flatMap(ni => pools(ni).rows(ids(ni)))
          }
          override def hasNext: Boolean = {
            while (!out.hasNext && buf.hasNext) emitGroup()
            out.hasNext
          }
          override def next(): (Long, Long, Double) = {
            if (!hasNext) throw new NoSuchElementException
            out.next()
          }
        }
      }
      .toDF("src", "dst", "dist")
  }

  /** The unsplit single-pass form: one task per hash-partition of
    * cells, each cell's pools filled in one m²/2 sweep. */
  private def cellKnnSinglePass(rows: DataFrame, k: Int): DataFrame = {
    val s = rows.sparkSession
    import s.implicits._
    rows
      .repartition(col("cid"))
      .sortWithinPartitions(col("cid"), col("vec_id"))
      .as[(Long, Long, Array[Float])]
      .mapPartitions { it =>
        // TopKAgg's own pools (Pool) — they must rank exactly as perGroup
        val buf = it.buffered
        new Iterator[(Long, Int, Long, Double)] {
          private var out: Iterator[(Long, Int, Long, Double)] = Iterator.empty
          private def emitCell(): Unit = {
            if (!buf.hasNext) return
            val cell = buf.head._1
            val ids = scala.collection.mutable.ArrayBuffer[Long]()
            val vecs = scala.collection.mutable.ArrayBuffer[Array[Float]]()
            while (buf.hasNext && buf.head._1 == cell) {
              val (_, id, v) = buf.next(); ids += id; vecs += v
            }
            val m = ids.length
            val pools = Array.fill(m)(Pool(k))
            var i = 0
            while (i < m) {
              var j = i + 1
              while (j < m) {
                val dist = VecFold.l2(vecs(i), vecs(j))
                pools(i).insert(dist, ids(j), asc = true)
                pools(j).insert(dist, ids(i), asc = true)
                j += 1
              }
              i += 1
            }
            out = Iterator.range(0, m).flatMap { ni =>
              val p = pools(ni)
              Iterator.range(0, p.size).map(r => (ids(ni), r + 1, p.ids(r), p.scores(r)))
            }
          }
          override def hasNext: Boolean = {
            while (!out.hasNext && buf.hasNext) emitCell()
            out.hasNext
          }
          override def next(): (Long, Int, Long, Double) = {
            if (!hasNext) throw new NoSuchElementException
            out.next()
          }
        }
      }
      .toDF("src", "rnk", "dst", "dist")
  }

  /** The routed search's edge set: the metric's rich projection graph
    * (best-$RoutedDeg prefix — the query-distribution shortcuts) UNION
    * the cell-kNN substrate in both directions (universal local
    * connectivity; undirected like the rich edges). No distinct — the
    * beam's per-round expansion dedupes, and a global distinct over
    * the union would shuffle the whole edge set for nothing. */
  private def routedEdges(s: SparkSession, dir: String, metric: String): DataFrame = {
    val rich = HnswQs.richGraph(s, dir, metric).filter(col("erk") <= RoutedDeg)
      .select(col("src"), col("dst"))
    val ck = cellKnn(s, dir).select(col("src"), col("dst"))
    rich.union(ck).union(ck.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** The routed search, metric-general (r7 item 3): edges, seed
    * ranking and the beam all score with `metric` (dist =
    * Vec.metricDist — negated similarity for cosine/ip). Counted
    * variant feeds the sweep's visited column. */
  private[graft] def routedSearchCounted(s: SparkSession, dir: String,
      metric: String, driftSigma: Double = 0.0): (DataFrame, Long, Long) = {
    val (ef, rounds, ents) = routedKnobsFor(s, dir)
    val emb = Tables.t(s, dir, "embeddings")
    val base = emb.filter(col("vec_id") % 50 =!= 0)
      .select(col("vec_id").as("bid"), col("embedding").as("bv"))
    val queriesIn = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    // drifted-eval variant (round 14 — m13's operational rule shipped):
    // the SAME index artifacts, knobs and seeding serve queries pushed
    // sigma off their manifold position (operators.QueryDrift — pure
    // hash math, crosscore-deterministic). The graph/anchors/seeds stay
    // fixed, so the row isolates pure query-drift robustness.
    val queries = if (driftSigma > 0.0)
      graft.operators.QueryDrift.dNN(queriesIn, driftSigma).localCheckpoint()
    else queriesIn
    val ss = graft.operators.SeedSelect
    // round 15 (guide §2.6): edge assembly (rich+cellKnn loads →
    // checkpoint → max-degree entry) and seed selection (ladder
    // resolution → anchor bank → two-level scoring) are independent
    // chains until the beam — forked; every value is computed exactly
    // as before.
    val (edges, seeds, seedEvals) = graft.operators.Par.withPool { pp =>
      val edgesF = pp.fork {
        val e = routedEdges(s, dir, metric).localCheckpoint()
        val ent = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
          .orderBy(col("d").desc, col("src")).head().getLong(0)
        (e, ent)
      }
      val seedF = pp.fork {
        val (coarse, aCells, _, tl) = seedLevels(s, dir, base, metric)
        val cand = ss.twoLevelScored(queries, coarse, aCells, tl, metric)
          .localCheckpoint()
        // total seed-selection distance evals: every query scans the
        // REALIZED coarse centroids (≤ cc — ADVICE r12 4) plus its
        // top-tl cells' anchors; this is the 84%-of-query-cost term the
        // sweep's seed_evals column makes visible (plan-audit rule:
        // count distance evals, not just beam visited)
        val se = queries.count() * coarse.count() + cand.count()
        (cand, se)
      }
      val (e, ent) = edgesF()
      val (cand, se) = seedF()
      val sd = queries.select(col("qid")).withColumn("bid", lit(ent))
        .union(ss.pick(cand, ents))
        .distinct()
      (e, sd, se)
    }
    val (res, visited) = BeamSearch.runCounted(
      edges, queries, base, seeds, ef, rounds, metric,
      kernelInfo = Tables.kernelInfo(s, dir))
    (res.filter(col("rnk") <= 10).orderBy(col("qid"), col("rnk")), visited.values.sum, seedEvals)
  }

  /** Persisted (result rows + visited_total + build_wall_ms) of the
    * counted routed search — built once per (dir, metric, resolved
    * knobs) and loaded thereafter (lesson 20: deterministic search
    * diagnostics over persisted indexes are artifacts). The quality
    * sweep's routed row consumes this instead of re-executing the full
    * search that graph_routed_search_ip already runs live in the same
    * bench pass (r9 verdict item 4). wall_ms is the wall clock of the
    * ONE build-time execution — measured latency, measured once; Bench
    * warms the artifact with the other indexes so sweep timings never
    * include the build. Keyed by every resolved knob, so a rule change
    * can never serve a stale operating point. */
  private[graft] def routedCountedArtifact(s: SparkSession, dir: String,
      metric: String, evalDist: String = "indist"): DataFrame = {
    val (ef, rounds, ents) = routedKnobsFor(s, dir)
    val aq = resolvedEntryCells(s, dir)
    val ss = graft.operators.SeedSelect
    val tl = ss.tlFor(ss.coarseCellsFor(routedAnchors(s, dir, metric).count()))
    // _u$CellK: the edge set gained the cell-kNN union in round 10;
    // _aq: the resolved entry depth joined the key in round 11;
    // _tl: the two-level seed width joined in round 13 (the seeding
    // changed from the exact bank scan) — the tag must change with
    // the build semantics or a pre-union / pre-resolver / pre-seeding
    // artifact would alias the new search. The drifted-eval variant
    // (round 14) appends _ev$tag; the indist name is unchanged so
    // existing artifacts stay valid.
    val sigma = if (evalDist == "indist") 0.0
      else graft.operators.QueryDrift.sigmaOf(evalDist)
    val evTag = if (evalDist == "indist") "" else s"_ev$evalDist"
    graft.operators.ProjIndex.ensureTable(s, dir,
      s"routed_counted_${metric}_ef${ef}_r${rounds}_e${ents}_d${RoutedDeg}_u${CellK}_aq${aq}_tl$tl$evTag") {
      val t0 = System.nanoTime()
      val (res, visited, seedEvals) = routedSearchCounted(s, dir, metric, sigma)
      val rows = res.localCheckpoint()
      rows.count() // force the search so wall_ms covers execution
      val wallMs = (System.nanoTime() - t0) / 1e6
      rows.withColumn("visited_total", lit(visited))
        .withColumn("build_wall_ms", lit(wallMs))
        .withColumn("seed_evals_total", lit(seedEvals))
    }
  }

  private def routedSearch(s: SparkSession, dir: String, metric: String): DataFrame = {
    val (ef, rounds, ents) = routedKnobsFor(s, dir)
    val emb = Tables.t(s, dir, "embeddings")
    val base = emb.filter(col("vec_id") % 50 =!= 0)
      .select(col("vec_id").as("bid"), col("embedding").as("bv"))
    val queries = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val ss = graft.operators.SeedSelect
    // round 15 (guide §2.6): same fork split as routedSearchCounted —
    // edge assembly ∥ seed selection, joined before the beam.
    val (edges, seeds) = graft.operators.Par.withPool { pp =>
      val edgesF = pp.fork {
        val e = routedEdges(s, dir, metric).localCheckpoint()
        val ent = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
          .orderBy(col("d").desc, col("src")).head().getLong(0)
        (e, ent)
      }
      val pickF = pp.fork {
        val (coarse, aCells, _, tl) = seedLevels(s, dir, base, metric)
        ss.pick(ss.twoLevelScored(queries, coarse, aCells, tl, metric), ents)
          .localCheckpoint()
      }
      val (e, ent) = edgesF()
      val sd = queries.select(col("qid")).withColumn("bid", lit(ent))
        .union(pickF())
        .distinct()
      (e, sd)
    }
    BeamSearch.runFromSeeds(edges, queries, base, seeds, ef, rounds, metric,
      kernelInfo = Tables.kernelInfo(s, dir))
      .filter(col("rnk") <= 10)
      .orderBy(col("qid"), col("rnk"))
  }

  /** The oracle: rich chain + sized quantizer + ENTRY-RESOLUTION
    * ladder (SqlIvf.entryCtes — the full lesson-42 rule re-derived in
    * SQL, which also staleness-guards the persisted ladder/entry
    * artifacts) + unrolled beam, all in the query's metric (the
    * quantizer cell→member mapping stays L2 in BOTH engines — it
    * mirrors the k-means geometry, not the query metric). */
  private def routedSql(metric: String): String = s"""
      WITH ${HnswQs.sqlRichCtesFor(metric)},
      ${SqlIvf.sizedCtes("vec_id % 50 <> 0", 2, "s")},
      ${SqlIvf.entryCtes("s", 2, "eq")},
      qq AS MATERIALIZED (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id % 50 = 0),
      bb AS MATERIALIZED (SELECT vec_id AS bid, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 50 <> 0),
      ${sqlRoutedKnobs},
      ckp AS (SELECT a.vec_id AS src, b.vec_id AS dst,
                     sqrt(${Vec.sqlL2sq("ea.v", "eb.v")}) AS d
              FROM sassign a JOIN sassign b ON a.cid = b.cid AND a.vec_id <> b.vec_id
              JOIN se ea ON ea.vec_id = a.vec_id
              JOIN se eb ON eb.vec_id = b.vec_id),
      ckr AS MATERIALIZED (SELECT src, dst FROM (
               SELECT src, dst,
                      ROW_NUMBER() OVER (PARTITION BY src ORDER BY d, dst) AS rn
               FROM ckp) WHERE rn <= $CellK),
      proj AS MATERIALIZED (SELECT src, dst FROM rer WHERE erk <= $RoutedDeg
              UNION ALL SELECT src, dst FROM ckr
              UNION ALL SELECT dst AS src, src AS dst FROM ckr),
      hub AS (SELECT src AS ebid FROM (
                SELECT src, COUNT(*) AS d FROM proj GROUP BY src)
              ORDER BY d DESC, src LIMIT 1),
      cfq AS (SELECT cid, (cv::REAL[])::DOUBLE[] AS cvf FROM eqecen),
      anch AS (SELECT DISTINCT bid FROM (
                 SELECT c.cid, b.bid,
                        ROW_NUMBER() OVER (PARTITION BY c.cid
                          ORDER BY sqrt(${Vec.sqlL2sq("c.cvf", "b.v")}), b.bid) AS rn
                 FROM cfq c CROSS JOIN bb b) WHERE rn = 1),
      ${SqlIvf.seedCtes(metric)},
      seeds AS (SELECT DISTINCT qid, bid FROM (
                  SELECT qid, ebid AS bid FROM qq CROSS JOIN hub
                  UNION ALL SELECT qid, bid FROM sd3)),
      rbeam0 AS MATERIALIZED (SELECT s.qid, s.bid, ${Vec.sqlMetricDist(metric, "q.qv", "v.v")} AS dist
                FROM seeds s JOIN qq q ON q.qid = s.qid JOIN bb v ON v.bid = s.bid),
      ${sqlRoutedRounds(metric)}
      SELECT qid, rnk, bid, dist FROM (
        SELECT qid, bid, dist,
               CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, bid) AS INT) AS rnk
        FROM rbeam$MaxRoutedRounds) WHERE rnk <= 10
      ORDER BY qid, rnk
    """

  val graphRoutedSearch = Q(
    "graph_routed_search",
    (s, dir) => routedSearch(s, dir, "l2"),
    Some(routedSql("l2")))

  /** The same operating point on the reference's HEADLINE metric —
    * inner product (README_RoarGraph.md:45-47 benches IP after
    * normalization): IP rich graph, IP seed ranking, IP beam; `dist`
    * is the negated inner product (smaller = closer), hash-exact
    * against the metric-parameterized oracle. Round8Spec pins
    * recall@10 ≥ 0.9 vs the exact IP groundtruth; the sweep's
    * routed_ip row reports the measured operating point. */
  val graphRoutedSearchIp = Q(
    "graph_routed_search_ip",
    (s, dir) => routedSearch(s, dir, "ip"),
    Some(routedSql("ip")))

  val qs: Seq[Q] = Seq(hnswPhaseTrace, hnswTraceStats, graphRoutedSearch,
    graphRoutedSearchIp)
}
