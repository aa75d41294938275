package graft.queries

import graft.functions.Vec
import graft.operators.{BeamSearch, Ivf}
import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Family A continued: IVF build/search and batch graph beam search.
  * Iterative operators — rows-only oracles (invariants spec-tested:
  * IvfSpec/BeamSpec check recall against the exact groundtruth). */
object VectorQs3 {

  private val Iters = 3

  /** k-means centroids + inverted-list sizes, DATA-SIZED (r7 item 1):
    * cells and training stride come from Ivf.cellsFor/trainStrideFor
    * — 16 cells at every test SF (oracle byte-identical to the old
    * fixed-K form there), 256 at 1M, 1024 at 10M. Oracle'd: the
    * fixed-iteration Lloyd build unrolls into SqlIvf.sizedCtes, which
    * computes the SAME integer formulas in SQL. */
  val ivfBuild = Q(
    "ivf_build",
    (s, dir) => {
      val emb = Tables.t(s, dir, "embeddings")
      val (cents, assigned, _) = Ivf.sizedBuild(emb, Iters)
      assigned.groupBy(col("cid")).agg(count(lit(1)).as("n_vecs"))
        .join(cents, Seq("cid"))
        .select(col("cid"), col("n_vecs"),
          sqrt(Vec.norm2(col("cv"))).as("centroid_norm"))
        .orderBy(col("cid"))
    },
    Some(s"""
      WITH ${SqlIvf.sizedCtes("true", Iters, "b")},
      nv AS (SELECT cid, COUNT(*) AS n_vecs FROM bassign GROUP BY cid)
      SELECT c.cid, nv.n_vecs, sqrt(${Vec.sqlNorm2("c.cv")}) AS centroid_norm
      FROM bcents c JOIN nv ON nv.cid = c.cid
      ORDER BY c.cid
    """))

  /** The persisted base-side IVF quantizer every search query loads
    * (build-once k-means; search must time search, not a rebuild).
    * Cell count is DATA-SIZED — the artifact path carries the derived
    * k, so a corpus 100× bigger builds (and loads) a √N-appropriately
    * bigger quantizer instead of the sf-tuned 16 cells the 1M run
    * proved scans 25% of the base per probe set. */
  def baseIvf(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val b = Tables.t(s, dir, "embeddings").filter(col("vec_id") % 50 =!= 0)
    val k = Ivf.cellsFor(Tables.baseCount(s, dir)) // memoized (round 16)
    graft.operators.ProjIndex.ensureIvf(s, dir, "base", k, Iters) {
      val (c, a, _) = Ivf.sizedBuild(b, Iters)
      (c, a)
    }
  }

  /** Routed search with a DATA-SIZED probe width (nprobe² ≥ cells —
    * Ivf.nprobeFor: 4 at the 16-cell test SFs, 16 at 256 cells/1M, 32
    * at 1024 cells/10M), exact rerank within probed cells — over the
    * PERSISTED IVF index (ProjIndex.ensureIvf). Oracle'd (round 3): the
    * oracle re-derives the same quantizer via SqlIvf, computes the
    * same nprobe in its `bnp` CTE, and routes identically, which also
    * guards the persisted artifact against staleness. */
  val ivfSearch = Q(
    "ivf_search",
    (s, dir) => {
      val (cents, base) = baseIvf(s, dir)
      val np = Ivf.nprobeFor(Ivf.cellsFor(Tables.baseCount(s, dir)))
      val queries = Tables.t(s, dir, "embeddings").filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Ivf.search(base, cents, queries, nprobe = np, k = 10)
        .orderBy(col("qid"), col("rnk"))
    },
    Some(s"""
      WITH ${SqlIvf.sizedCtes("vec_id % 50 <> 0", Iters, "b")},
      bnp AS (SELECT COALESCE(
          (SELECT MIN(pw) FROM (SELECT UNNEST([4::BIGINT, 8, 16, 32, 64, 128, 256]) AS pw), bkk
           WHERE pw >= k OR pw * pw >= k), 256) AS np FROM bkk),
      q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id % 50 = 0),
      pr AS (SELECT qid, cid FROM (
               SELECT q.qid, c.cid,
                      ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY ${Vec.sqlL2sq("q.qv", "c.cv")}, c.cid) AS rn
               FROM q CROSS JOIN bcents c) WHERE rn <= (SELECT np FROM bnp)),
      cand AS (SELECT q.qid, e.vec_id AS bid, sqrt(${Vec.sqlL2sq("q.qv", "e.v")}) AS dist
               FROM pr JOIN bassign a ON a.cid = pr.cid
               JOIN be e ON e.vec_id = a.vec_id
               JOIN q ON q.qid = pr.qid),
      r AS (SELECT qid, bid, dist,
                   CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, bid) AS INT) AS rnk
            FROM cand)
      SELECT qid, rnk, bid, dist FROM r WHERE rnk <= 10
      ORDER BY qid, rnk
    """))

  /** DuckDB mirror of the single-entry BeamSearch.runFromSeeds: rounds
    * unrolled as chained CTEs.
    * Each round: expand the beam over the edge table (distinct — the
    * TopKAgg pool collapses exact-duplicate (score, id) revisits, so
    * the mirror dedupes before ranking), rescore, keep top-ef by
    * (dist, bid). Requires CTEs `proj`(src, dst), `qq`(qid, qv),
    * `bb`(bid, v), `beam0`(qid, bid, dist) in scope. */
  private[queries] def sqlBeamRounds(rounds: Int, ef: Int): String =
    (1 to rounds).map { r =>
      s"""ex$r AS MATERIALIZED (SELECT DISTINCT b.qid, e.dst AS bid
             FROM beam${r - 1} b JOIN proj e ON e.src = b.bid),
      sc$r AS (SELECT x.qid, x.bid, sqrt(${Vec.sqlL2sq("q.qv", "v.v")}) AS dist
               FROM ex$r x JOIN qq q ON q.qid = x.qid JOIN bb v ON v.bid = x.bid),
      un$r AS (SELECT DISTINCT qid, bid, dist FROM
                 (SELECT qid, bid, dist FROM beam${r - 1}
                  UNION ALL SELECT qid, bid, dist FROM sc$r)),
      beam$r AS MATERIALIZED (SELECT qid, bid, dist FROM (
                   SELECT qid, bid, dist,
                          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, bid) AS rn
                   FROM un$r) WHERE rn <= $ef)"""
    }.mkString(",\n      ")

  /** Beam search over the PERSISTED projection graph from the global
    * entry point (reference search loop, roargraph_python.py:325-420).
    * The graph is built once via ProjIndex.ensureGraph and loaded here,
    * so this query times search — not an index rebuild. Oracle'd
    * (round 3): the oracle rebuilds the projection graph from the
    * roar_projection_graph CTE chain (hash-proven identical) and
    * unrolls the 3 fixed beam rounds — which also staleness-guards
    * the persisted artifact. */
  val graphBeamSearch = Q(
    "graph_beam_search",
    (s, dir) => {
      val edges = graft.operators.ProjIndex.ensureGraph(s, dir) {
          VectorQs2.roarProjectionGraph.fn(s, dir)
        }
        .select(col("src"), col("dst")).cache()
      val emb = Tables.t(s, dir, "embeddings")
      val base = emb.filter(col("vec_id") % 50 =!= 0)
        .select(col("vec_id").as("bid"), col("embedding").as("bv"))
      val queries = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      // entry point: max-degree node (calculate_projection_ep,
      // roargraph_python.py:164-175) — the hub seed more than doubles
      // beam recall vs an arbitrary node at equal rounds
      val entry = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
        .orderBy(col("d").desc, col("src")).head().getLong(0)
      BeamSearch.runFromSeeds(edges, queries, base,
        queries.select(col("qid")).withColumn("bid", lit(entry)), ef = 10, rounds = 3,
        kernelInfo = Tables.kernelInfo(s, dir))
        .orderBy(col("qid"), col("rnk"))
    },
    Some(s"""
      WITH ${VectorQs2.sqlProjCtes},
      proj AS MATERIALIZED (SELECT src, dst FROM cp WHERE dr <= ${VectorQs2.DegCap}),
      dg AS (SELECT src, COUNT(*) AS degree FROM proj GROUP BY src),
      ep AS (SELECT src AS ebid FROM dg ORDER BY degree DESC, src LIMIT 1),
      qq AS MATERIALIZED (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id % 50 = 0),
      bb AS MATERIALIZED (SELECT vec_id AS bid, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 50 <> 0),
      beam0 AS MATERIALIZED (SELECT q.qid, v.bid, sqrt(${Vec.sqlL2sq("q.qv", "v.v")}) AS dist
                FROM qq q CROSS JOIN ep JOIN bb v ON v.bid = ep.ebid),
      ${sqlBeamRounds(3, 10)}
      SELECT qid, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, bid) AS INT) AS rnk,
             bid, dist
      FROM beam3
      ORDER BY qid, rnk
    """))

  // ---- Product quantization (operators.Pq) ----

  private val PqM = 8
  private val PqIters = 2
  /** PQ subspace count, DATA-SIZED by SUBSPACE WIDTH, not count (two
    * r10 measurements): 10M×64d at m=8 read recall 0.427 — with ksub
    * capped at 256 the only honest resolution lever past ~1M is more
    * code bits; and 2M×200d at m=10 read 0.207 — a count-targeted
    * rule handed each 256-entry codebook a 20-dim subspace it cannot
    * resolve. What a fixed-size codebook can quantize is a fixed
    * VOLUME, so the rule targets dims-per-subspace: 8 at n ≤ 1M
    * (64d → m=8, every test SF and the 1M point unchanged), 4 beyond
    * (64d → m=16, the validated 10M operating point; 200d → m=50),
    * snapped DOWN to the nearest divisor of dim. Memory per vector
    * stays m bytes-ish; the rerank window does NOT have to grow with
    * N once resolution does (pqRerankFor). */
  def pqMFor(n: Long, dim: Int): Int = {
    val width = if (n <= 1000000L) PqM else 4
    var m = math.min(dim, math.max(1, dim / width))
    while (m > 1 && dim % m != 0) m -= 1
    m
  }
  /** PQ sub-quantizer size, DATA-SIZED (r7 item 1: 16-way codebooks
    * drown 1M points in ADC ties, measured recall 0.004 — ksub must
    * grow with N): the same √N power-of-two rule as IVF cells, capped
    * at 256 (8-bit codes, the standard PQ operating point). 16 at
    * every test SF, 256 from ~260k vectors up. */
  def pqKsubFor(n: Long): Int = math.min(256, Ivf.cellsFor(n))
  /** Exact-rerank window, DATA-SIZED: ~n/500 candidates, floor 50
    * (test SF unchanged), cap 2000. The cap is a MEMORY contract, not
    * a tuning: the ADC kernel holds nq × rerank pooled candidates per
    * task, so the window cannot grow linearly with N (20k × 10k
    * queries would be multi-GB pools). What scales resolution past
    * the cap is the CODE WIDTH (pqMFor: 8 → 16 subspaces past 1M) —
    * the r10 10M measurement: m=8 + cap-bound rerank read 0.427
    * where the 1M point read 0.681; doubling m restores the
    * compressed-domain resolution instead of widening the exact
    * window. */
  def pqRerankFor(n: Long): Int =
    math.min(2000L, math.max(50L, n / 500L)).toInt

  /** Persisted PQ index over the base side: 8 subspace codebooks of
    * ksub(N) centroids each (64 floats → 8 codes/vector). Codebooks
    * train on the strided sample (Ivf.trainStrideFor — stride 1 at
    * test SF), every vector pays only the encode pass. */
  def pqIndex(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val b = Tables.t(s, dir, "embeddings").filter(col("vec_id") % 50 =!= 0)
      .select(col("vec_id"), col("embedding"))
    val n = Tables.baseCount(s, dir) // memoized (round 16)
    val ksub = pqKsubFor(n)
    val m = pqMFor(n, Tables.embDim(s, dir))
    val stride = Ivf.trainStrideFor(n, ksub)
    graft.operators.ProjIndex.ensurePq(s, dir, m, ksub, PqIters) {
      val train = if (stride <= 1L) b else b.filter(col("vec_id") % stride === 0)
      val cents = graft.operators.Pq.train(train, m, ksub, PqIters,
        nHint = Some(n / stride + 1L))
      val codes = graft.operators.Pq.encode(b, cents, m)
      (cents, codes)
    }
  }

  /** Per-subspace quantizer CTE chains + the (sub, vec_id, cid) code
    * table and (sub, cid, cv) codebook union. The chain count is
    * structural in static SQL, so the oracle unrolls m = PqM = 8 —
    * the pqMFor(n, dim) resolution at EVERY corpus the oracle runs on
    * (all test SFs are ≤ 32k × 64d → m = 8); the 16-subspace tier only
    * engages past 1M, where only the Spark engine runs (same
    * static-unroll convention as the routed-search rounds).
    * — the DATA-SIZED SqlIvf
    * unroll run once per PQ subspace over its slice of the embedding
    * (kCap 256 mirrors pqKsubFor; the per-subspace count equals the
    * base count, so every subspace derives the same ksub/stride). */
  private lazy val sqlPqCtes: String = {
    val dsub = 64 / PqM
    val chains = (0 until PqM).map { sub =>
      SqlIvf.sizedCtes("vec_id % 50 <> 0", PqIters, s"p$sub",
        vexpr = s"(embedding::DOUBLE[])[${sub * dsub + 1}:${sub * dsub + dsub}]",
        kCap = 256)
    }.mkString(",\n      ")
    val codes = (0 until PqM)
      .map(sub => s"SELECT $sub AS sub, vec_id, cid FROM p${sub}assign")
      .mkString(" UNION ALL ")
    val cents = (0 until PqM)
      .map(sub => s"SELECT $sub AS sub, cid, cv FROM p${sub}cents")
      .mkString(" UNION ALL ")
    s"""$chains,
      pqcodes AS ($codes),
      pqcents AS ($cents),
      prr AS (SELECT LEAST(2000, GREATEST(50, n // 500)) AS rr FROM p0prm)"""
  }

  /** PQ codebook + code-assignment stats: one row per (subspace,
    * centroid) with its population and centroid norm — the build
    * artifact summary. Oracle'd (round 3): the per-subspace k-means
    * unrolls exactly like IVF (SqlIvf), so codes and codebooks are
    * value-checked — and the persisted PQ artifact staleness-guarded. */
  val pqBuild = Q(
    "pq_build",
    (s, dir) => {
      val (cents, codes) = pqIndex(s, dir)
      val counts = codes
        .select(posexplode(col("codes")).as(Seq("sub", "cid")))
        .groupBy(col("sub"), col("cid")).agg(count(lit(1)).as("n_vecs"))
      cents.select(col("sub"), col("cid"),
          sqrt(Vec.norm2(col("cv"))).as("centroid_norm"))
        .join(counts, Seq("sub", "cid"), "left")
        .select(col("sub"), col("cid"),
          coalesce(col("n_vecs"), lit(0L)).as("n_vecs"), col("centroid_norm"))
        .orderBy(col("sub"), col("cid"))
    },
    Some(s"""
      WITH $sqlPqCtes,
      nv AS (SELECT sub, cid, COUNT(*) AS n_vecs FROM pqcodes GROUP BY sub, cid)
      SELECT c.sub, c.cid, COALESCE(nv.n_vecs, 0) AS n_vecs,
             sqrt(${Vec.sqlNorm2("c.cv")}) AS centroid_norm
      FROM pqcents c LEFT JOIN nv ON nv.sub = c.sub AND nv.cid = c.cid
      ORDER BY c.sub, c.cid
    """))

  /** ADC candidate search over the 8-byte codes (top-rerank(N)) +
    * exact L2 rerank to top-10 — the compressed-domain scan never
    * touches the float table; only the rerank-window candidates per
    * query do. Window and codebook size are DATA-SIZED (pqKsubFor /
    * pqRerankFor — the 1M run measured recall 0.004 with the old
    * sf-tuned 16×top-50). Oracle'd: the per-subspace sized quantizer
    * unroll + the same windowed ADC fold. */
  val pqSearch = Q(
    "pq_search",
    (s, dir) => {
      val (cents, codes) = pqIndex(s, dir)
      val emb = Tables.t(s, dir, "embeddings")
      val base = emb.filter(col("vec_id") % 50 =!= 0)
      val nBase = Tables.baseCount(s, dir) // memoized (round 16)
      val ksub = pqKsubFor(nBase)
      val rerank = pqRerankFor(nBase)
      val queries = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val adc = graft.operators.Pq.searchAdc(codes, cents, queries,
        pqMFor(nBase, Tables.embDim(s, dir)), ksub, k = rerank)
      val rer = adc
        .join(emb.filter(col("vec_id") % 50 =!= 0)
          .select(col("vec_id").as("bid"), col("embedding").as("bv")), Seq("bid"))
        .join(queries, Seq("qid"))
        .select(col("qid"), col("bid"), Vec.l2Fast(col("qv"), col("bv")).as("dist"))
      graft.operators.TopK.perGroup(rer, "qid", "bid", "dist", 10, asc = true)
        .orderBy(col("qid"), col("rnk"))
    },
    // ADC mirror: per (query, vector) the asymmetric distance is the
    // ordered subspace fold Σ_s ||q_s − cent(s, code_s)||² (init 0.0,
    // sub ascending — the kernel's accumulation order), then the same
    // data-sized top-rerank(N) window → exact-rerank top-10
    Some(s"""
      WITH $sqlPqCtes,
      q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id % 50 = 0),
      d2s AS (SELECT q.qid, k.vec_id AS bid, k.sub,
                     ${Vec.sqlL2sq(s"list_slice(q.qv, k.sub * ${64 / PqM} + 1, k.sub * ${64 / PqM} + ${64 / PqM})", "c.cv")} AS d2
              FROM pqcodes k
              JOIN pqcents c ON c.sub = k.sub AND c.cid = k.cid
              CROSS JOIN q),
      adc AS (SELECT qid, bid,
                     list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(d2 ORDER BY sub)),
                       (x, y) -> x + y) AS adist
              FROM d2s GROUP BY qid, bid),
      t50 AS (SELECT qid, bid FROM (
                SELECT qid, bid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, bid) AS rn
                FROM adc) WHERE rn <= (SELECT rr FROM prr)),
      bb AS (SELECT vec_id AS bid, embedding::DOUBLE[] AS bv FROM embeddings WHERE vec_id % 50 <> 0),
      rer AS (SELECT t.qid, t.bid, sqrt(${Vec.sqlL2sq("q.qv", "b.bv")}) AS dist
              FROM t50 t JOIN q ON q.qid = t.qid JOIN bb b ON b.bid = t.bid)
      SELECT qid, rnk, bid, dist FROM (
        SELECT qid, bid, dist,
               CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, bid) AS INT) AS rnk
        FROM rer) WHERE rnk <= 10
      ORDER BY qid, rnk
    """))

  val qs: Seq[Q] = Seq(ivfBuild, ivfSearch, graphBeamSearch, pqBuild, pqSearch)
}
