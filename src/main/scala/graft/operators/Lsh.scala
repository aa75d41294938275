package graft.operators

/** Deterministic hyperplane bank for embedding SimHash LSH
  * (reference: simple_sim_hash.py — random hyperplanes, sign bits,
  * bucket dict, radius-1 multiprobe).
  *
  * Planes come from a fixed SplitMix64-style stream so the SAME
  * numbers can be inlined as literals into both the Spark plan and the
  * DuckDB oracle SQL (Double.toString round-trips exactly). */
object Lsh {
  // 8 bits → 256 buckets: at the test scale (~500 vectors) buckets
  // hold a few vectors each, so radius-1 multiprobe actually surfaces
  // candidates. At production scale raise NBits ~ log2(N/targetBucket).
  val NBits = 8
  val Dim = 64

  /** planes(bit)(dim) ∈ [-1, 1), deterministic. */
  val planes: IndexedSeq[IndexedSeq[Double]] = {
    var x = 0x9E3779B97F4A7C15L
    def next(): Double = {
      x = x * 6364136223846793005L + 1442695040888963407L
      // take the high 53 bits → uniform [0,1) → [-1,1)
      ((x >>> 11).toDouble / (1L << 53).toDouble) * 2.0 - 1.0
    }
    IndexedSeq.fill(NBits)(IndexedSeq.fill(Dim)(next()))
  }

  /** DuckDB literal for plane j. */
  def sqlPlane(j: Int): String =
    planes(j).map(_.toString).mkString("[", ", ", "]")

  // ---- banded pair-LSH bank (dedup_embedding) ----

  /** 16 bands × 4 sign bits = 64 planes, distinct stream from
    * `planes` (different seed) so the two banks are independent.
    * Banded pair capture: P(pair shares ≥1 band key) =
    * 1 − (1 − p^4)^16 with p = 1 − θ/π; smaller bands raise recall
    * but grow buckets — at production scale set bandBits ≈
    * log2(N / target_bucket_size) and add bands to recover recall. */
  val PairBands = 16
  val PairBandBits = 4

  /** Corpus-size cutover for dedup_embedding's band layout (r7 item 1,
    * measured in the 1M scale run): below this the 16-band × 4-bit
    * layout over RAW vectors runs (high boundary-recall at small N —
    * DedupEmbeddingRecallSpec's floor); at or above it the SAME
    * 64-plane signature regroups into 2 bands × 32 bits over CENTERED
    * vectors (quantized-exact global mean subtracted) — the only
    * configuration that survived 1M clustered vectors (uncentered
    * 16×4 killed at 15 min; centered 2×32 found 99.9% of planted dups
    * in 63 s). Both engines branch on the same corpus count. */
  val PairScaleCutover = 100000L
  val PairScaleBands = 2
  val PairScaleNibbles = 8 // 8 × 4-bit keys combine into one 32-bit band key

  /** Second cutover (round 9, measured at 10M): the 2×32-bit
    * global-centered layout DIED — its candidate-pair shuffle filled
    * the disk. Measured root cause (the band-bucket pair mass
    * Σ s·(s−1)/2, docs/scale_run.md): clustered data freezes most
    * sign bits CLUSTER-wide even after global centering,
    * and wider global bands don't fix it (48-bit keys still held 110k
    * rows in the hottest bucket at 10M; pair mass 8.8e10). Hyperplanes
    * through the global mean cannot separate points inside a tight
    * off-mean cluster — the same geometry lesson as centering, one
    * level down.
    *
    * Past this cutover the tier hashes the QUANTIZER RESIDUAL instead:
    * vectors route to their data-sized k-means cell (the shared
    * persisted CurationQs.allIvf artifact — the dedup_semantic
    * convention), the cell centroid is subtracted, and 4 bands × 44
    * bits of the residual's signs key the buckets, packed with the
    * cell id (cid·2⁴⁴ + bandKey < 2⁶³). Residuals are near-isotropic
    * around the cell center, so band bits are genuinely noisy; exact
    * duplicates share cell, residual, and therefore every band key by
    * construction. Near-dup capture is cell-local, the standard
    * IVF/SemDeDup convention (arXiv:2303.09540). */
  val PairWideCutover = 2000000L
  val PairWideBands = 4
  val PairWideNibbles = 11 // 11 × 4-bit keys = one 44-bit band key
  /** planes the wide tier consumes: 4 × 44 = 176 */
  val PairWidePlanes = PairWideBands * PairWideNibbles * PairBandBits
  /** full bank size (headroom above PairWidePlanes); the first 64 are
    * bit-identical to the pre-round-9 bank (same stream, longer draw),
    * so the 16×4 and 2×32 tiers are unchanged. */
  val PairAllPlanes = 192

  /** bandPlanesFor(dim)(band * PairBandBits + bit)(d) ∈ [-1, 1).
    *
    * Dim-parametrized (r9 verdict item 7 — the reference's t2i corpus
    * is 200d where every repo scale run was 64d): the SAME SplitMix64
    * stream drawn `PairAllPlanes × dim` deep, so `bandPlanesFor(64)`
    * reproduces the historical bank value-for-value (every test-SF
    * hash and the DuckDB oracle literals are unchanged) while any
    * other corpus dimensionality gets a full-width bank instead of
    * silently hashing a 64-component prefix. Memoized — the bank is
    * computed once per dim per JVM. */
  private val bankCache = new java.util.concurrent.ConcurrentHashMap[Int, IndexedSeq[IndexedSeq[Double]]]()
  def bandPlanesFor(dim: Int): IndexedSeq[IndexedSeq[Double]] =
    bankCache.computeIfAbsent(dim, d => {
      var x = 0xC2B2AE3D27D4EB4FL
      def next(): Double = {
        x = x * 6364136223846793005L + 1442695040888963407L
        ((x >>> 11).toDouble / (1L << 53).toDouble) * 2.0 - 1.0
      }
      IndexedSeq.fill(PairAllPlanes)(IndexedSeq.fill(d)(next()))
    })

  /** bandPlanes(band * PairBandBits + bit)(dim) ∈ [-1, 1) — the 64d
    * bank, kept as the named default (the test tables and both scale
    * corpora to date are 64d). */
  val bandPlanes: IndexedSeq[IndexedSeq[Double]] = bandPlanesFor(Dim)

  /** DuckDB literal for band plane j (the 64d bank — the oracle only
    * ever runs against the 64d test tables and planted corpora). */
  def sqlBandPlane(j: Int): String =
    bandPlanes(j).map(_.toString).mkString("[", ", ", "]")
}
