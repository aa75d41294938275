package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Product quantization — the memory-side scale path the reference's
  * in-RAM float index cannot take at 100 TB: vectors compress to m
  * subspace codes (64 floats → 8 bytes here), ADC search scans codes
  * against a per-query lookup table and only the rerank touches real
  * vectors. Subspace codebooks come from the same deterministic
  * quantized-exact k-means as IVF (Ivf.centroids), so build, codes,
  * and search are bit-stable under any partitioning.
  *
  * Scale shape: train = m small k-means over N×dsub slices; encode =
  * one scan with a broadcast 128-row codebook (min-struct argmin, no
  * shuffle beyond the map-side combine); search = one QueryScan job
  * over the 8-byte codes with per-query m×ksub lookup tables — the
  * full-vector table is never read until rerank.
  */
object Pq {

  /** Per-subspace codebooks: (sub, cid, cv array<double> of dsub).
    * `nHint` = the train-row count when the caller knows it — lets
    * each subspace k-means take Ivf.centroids' fused driver branch
    * under its gates (bit-identical; IvfFusedSpec). */
  def train(emb: DataFrame, m: Int, ksub: Int, iters: Int,
      nHint: Option[Long] = None): DataFrame = {
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    require(dim % m == 0, s"PQ subspaces must tile the dimension: dim=$dim m=$m")
    val dsub = dim / m
    (0 until m).map { s =>
      val sliced = emb.select(col("vec_id"),
        slice(col("embedding"), s * dsub + 1, dsub).as("embedding"))
      Ivf.centroids(sliced, ksub, iters, nHint.map(n => (n, dsub)))
        .select(lit(s).as("sub"), col("cid"), col("cv"))
    }.reduce(_.union(_))
  }

  private def collectBanks(
      cents: DataFrame, m: Int): (Array[Array[Long]], Array[Array[Array[Double]]]) = {
    val bySub: Map[Int, Array[(Long, Array[Double])]] =
      cents.select(col("sub"), col("cid"), col("cv")).collect()
        .map(r => (r.getInt(0), (r.getLong(1), r.getSeq[Double](2).toArray)))
        .groupBy(_._1).map { case (s, rows) => s -> rows.map(_._2).sortBy(_._1) }
    val banks = (0 until m).map(s =>
      bySub.getOrElse(s, sys.error(s"PQ codebook missing subspace $s"))).toArray
    (banks.map(_.map(_._1)), banks.map(_.map(_._2)))
  }

  /** Encode every vector: (vec_id, codes array<int> of m). ALL m
    * subspace argmins run in ONE PqEncodeCodes codegen kernel over the
    * driver-collected codebooks — one map-only scan, zero generated
    * rows, zero shuffle, and a plan whose generated-code size is
    * independent of m.
    *
    * Two dead formulations, both killed by measurement:
    * (1) posexplode × broadcast-join × min(struct) generated N·m·ksub
    *     rows into an N·m-group aggregation — fine at 1M×8×16 (1.3e8),
    *     fatal at 10M×8×256 (2e10 rows whose sort-based fallback
    *     filled the disk in the round-10 scale run; lesson 22/30).
    * (2) m × (slice + VecNearestCid) columns in one Project — fine at
    *     m≤16, but at the 200d rule's m=50 the Project fell out of
    *     whole-stage codegen and every kernel ran interpreted; the
    *     2M×200d encode never finished (round-10 open item 36).
    * PqSpec pins the fused kernel bit-identical to form (2) at
    * m ∈ {8, 16, 50}. A narrow scan over enough arithmetic is spread
    * to the session's cores first (Spread.wide). */
  def encode(emb: DataFrame, cents: DataFrame, m: Int): DataFrame = {
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    require(dim % m == 0, s"PQ subspaces must tile the dimension: dim=$dim m=$m")
    val dsub = dim / m
    val bc = org.apache.spark.sql.graftbridge.Bridge
    val (cids, banks) = collectBanks(cents, m)
    // each float is scored against its subspace's codebook
    val ksub = cids.map(_.length).max.toLong
    Spread.wide(emb, "vec_id", ksub).getOrElse(emb).select(col("vec_id"),
      bc.column(graft.functions.PqEncodeCodes(
        bc.expr(col("embedding")), dsub, cids, banks)).as("codes"))
  }

  /** The retired per-subspace column form (dead formulation (2) above),
    * kept ONLY as the spec oracle for PqSpec's kernel bit-equality —
    * never call it on a real corpus at large m. */
  private[graft] def encodePerSubspace(emb: DataFrame, cents: DataFrame, m: Int): DataFrame = {
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    require(dim % m == 0, s"PQ subspaces must tile the dimension: dim=$dim m=$m")
    val dsub = dim / m
    val bc = org.apache.spark.sql.graftbridge.Bridge
    val (cids, banks) = collectBanks(cents, m)
    val codeCols = (0 until m).map { s =>
      bc.column(graft.functions.VecNearestCid(
        bc.expr(slice(col("embedding"), s * dsub + 1, dsub)),
        cids(s), banks(s))).cast("int")
    }
    emb.select(col("vec_id"), array(codeCols: _*).as("codes"))
  }

  /** ADC top-k per query over the codes table (asymmetric distance:
    * sum over subspaces of ||q_sub − centroid[code]||²) as one
    * QueryScan job: the codebook and the queries are broadcast once,
    * each partition builds its per-query lookup tables and scans its
    * codes block-tiled into bounded pools, merged on the driver while
    * |Q|·k fits it (QueryScan.merged). Returns (qid, rnk, bid, adist). */
  def searchAdc(
      codes: DataFrame, // vec_id, codes
      cents: DataFrame, // sub, cid, cv
      queries: DataFrame, // qid, qv (array<float>)
      m: Int,
      ksub: Int,
      k: Int): DataFrame = {
    val centArr = new Array[Array[Double]](m * ksub)
    cents.select(col("sub"), col("cid"), col("cv"))
      .collect().foreach { r =>
        centArr(r.getInt(0) * ksub + r.getLong(1).toInt) =
          r.getSeq[Double](2).toArray
      }
    val qArr = QueryScan.queries(queries)
    val mL = m; val ksubL = ksub
    QueryScan.search(codes.select(col("vec_id"), col("codes")), qArr, (centArr, qArr), k,
        asc = true, "bid", "adist") {
      case ((cA, qs), it, pools) =>
        val nq = qs.length
        // subspace width from ANY surviving centroid — cell (0,0) can
        // legitimately empty out during Lloyd rounds, and dsub=0 would
        // silently zero every ADC distance
        val dsub = cA.collectFirst { case cv if cv != null => cv.length }.getOrElse(0)
        require(dsub > 0, "PQ codebook has no centroids")
        // per-query LUT: lut(qi)(s*ksub + c) = ||q_sub − cent(s,c)||²
        val lut = Array.tabulate(nq) { qi =>
          val qv = qs(qi)._2
          val t = new Array[Double](mL * ksubL)
          var s = 0
          while (s < mL) {
            var c = 0
            while (c < ksubL) {
              val cv = cA(s * ksubL + c)
              var acc = 0.0
              if (cv != null) {
                var i = 0
                while (i < dsub) {
                  val d = qv(s * dsub + i).toDouble - cv(i)
                  acc += d * d; i += 1
                }
              } else acc = Double.MaxValue
              t(s * ksubL + c) = acc
              c += 1
            }
            s += 1
          }
          t
        }
        // TILED scan: buffer a block of code rows, then loop QUERIES
        // outer so each query's 16KB LUT stays cache-hot across the
        // whole block. The row-outer form streamed all nq LUTs
        // (nq × m × ksub doubles — 160 MB at 10k × 8 × 256) through
        // cache PER CODE ROW and was memory-bandwidth-bound: the 10M
        // ADC scan cost 2,440 s against the 800 s brute-force scan
        // with 8× the flops (r10 measurement). Pool results are
        // insertion-order independent under the total (score, id)
        // order, so tiling is bit-invisible.
        val Block = 4096
        val blkIds = new Array[Long](Block)
        val blkCodes = new Array[Array[Int]](Block)
        while (it.hasNext) {
          var bn = 0
          while (bn < Block && it.hasNext) {
            val row = it.next()
            blkIds(bn) = row.getLong(0); blkCodes(bn) = row.getArray(1).toIntArray(); bn += 1
          }
          var qi = 0
          while (qi < nq) {
            val t = lut(qi); val p = pools(qi)
            var r = 0
            while (r < bn) {
              val cs = blkCodes(r)
              var acc = 0.0
              var s = 0
              while (s < mL) { acc += t(s * ksubL + cs(s)); s += 1 }
              p.insert(acc, blkIds(r), asc = true)
              r += 1
            }
            qi += 1
          }
        }
    }
  }
}
