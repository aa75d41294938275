package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The build-once / load-many artifact store: search queries must
  * measure SEARCH, not an index rebuild (the reference builds its index
  * once and benchmarks QPS against the saved artifact,
  * README_RoarGraph.md:19-56; round-1 bench times were dominated by
  * rebuilding the graph inside every search query).
  *
  * Index artifacts ARE tables (SURVEY §3): the projection graph is an
  * edge table, the IVF and PQ quantizers are centroid tables plus a
  * cell/code assignment. They persist as plain parquet — loadable by
  * any Spark job or parquet reader — where the reference serializes
  * custom binary blobs (hnsw_with_bridges_optimized.py:310-378
  * save/load_layer0, README_RoarGraph.md §格式).
  *
  * Every artifact lives at `tablePath(dir, tag)`: keyed by (algorithm
  * version, source dir, tag) under SPARK_GRAFT_INDEX_DIR (default
  * /tmp/graft_index). Version is bumped whenever the build algorithm
  * changes so a stale on-disk artifact can never serve a newer search.
  * At cluster scale the root points at shared storage and the
  * existence check is the same FileSystem call.
  */
object ProjIndex {

  /** bump on any change to ANY artifact build semantics or layout —
    * v3: the r8 data-sized quantizer builds train on a stride-sampled
    * subset (Ivf.sizedBuild), and the ivf/pq paths encode only (tag, k,
    * iters), so a pre-stride artifact at the same (k, iters) would
    * silently alias the new build at corpus sizes where the derived k
    * matches but stride > 1. v4: IVF `cells/` is the assignment's own
    * files with a bigint `cid` column, no longer `cid=` directories. */
  private val Version = "v4"

  /** In-JVM per-path build locks (round 15): catalog queries now run
    * independent sub-chains from a driver thread pool (guide §2.6), so
    * two threads can miss the same cold artifact simultaneously;
    * without a lock both would run the build and race the parquet
    * write. Same-path builds serialize (the second thread re-checks
    * _SUCCESS and loads); distinct paths stay concurrent. Cross-JVM
    * behavior is unchanged (the _SUCCESS guard, as before). */
  private val buildLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Versioned artifact path for (dir, tag) under the CURRENT Version.
    * Spec staleness cleanups must resolve paths through this (advice
    * r9): a hardcoded version segment becomes a silent no-op delete the
    * day Version is bumped, and an edited fixture could then replay
    * against a stale same-tag artifact. */
  def tablePath(dir: String, tag: String): String = {
    val root = sys.env.getOrElse("SPARK_GRAFT_INDEX_DIR", "/tmp/graft_index")
    val dtag = dir.replaceAll("[^A-Za-z0-9.]", "_")
    s"$root/$Version/$dtag/$tag"
  }

  /** What a load read per (session, path) at a stamp (an artifact's
    * `_SUCCESS` mtime, a table file's length and mtime), reused while
    * the stamp holds: no inference job. `read` runs outside the map; a
    * publish drops stopped sessions. */
  private val loaded = new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), (Any, AnyRef)]()

  private[graft] def memo[T <: AnyRef](s: SparkSession, path: String, stamp: Any)(read: => T): T =
    Option(loaded.get((s, path))).collect { case (`stamp`, v) => v.asInstanceOf[T] }.getOrElse {
      val v = read
      loaded.keySet.removeIf(_._1.sparkContext.isStopped)
      loaded.put((s, path), (stamp, v))
      v
    }

  /** Run `write` on the artifact path unless `last` — the _SUCCESS
    * marker of the LAST part `write` produces — exists: a crash between
    * two part writes must re-trigger the build, not wedge every later
    * run on a half-saved artifact. Then `read` the path, or reuse what
    * it returned while `last` keeps its mtime (a rebuild rewrites it). */
  private def once[T <: AnyRef](s: SparkSession, dir: String, tag: String, last: String)(
      write: String => Unit)(read: String => T): T = {
    val p = tablePath(dir, tag)
    val done = new Path(s"$p/$last")
    val fs = done.getFileSystem(s.sparkContext.hadoopConfiguration)
    val stamp = buildLocks.computeIfAbsent(p, _ => new Object).synchronized {
      if (!fs.exists(done)) write(p)
      fs.getFileStatus(done).getModificationTime
    }
    memo(s, p, stamp)(read(p))
  }

  /** Load the persisted projection graph, building and saving it first
    * if absent (repartitioned on src so each file holds whole adjacency
    * lists for co-located traversal joins). `build` is only evaluated
    * on a miss — as in every `ensure*` below. */
  def ensureGraph(s: SparkSession, dir: String)(build: => DataFrame): DataFrame =
    once(s, dir, "proj_graph", "_SUCCESS") { p =>
      build.repartition(col("src")).sortWithinPartitions(col("src"))
        .write.mode("overwrite").parquet(p)
    }(s.read.parquet(_))

  /** Load a persisted IVF index (centroids, assigned cells), running
    * the deterministic k-means build only on a miss. Keyed by
    * (scope tag, k, iters) — different query scopes use different
    * quantizers.
    *
    * Layout: `centroids/` is one file; `cells/` is the assigned frame
    * written as it is — one file per assigned partition holding rows,
    * `cid` a bigint column of each row. No reader prunes by cell:
    * `Ivf.search` filters each row by its own `cid` against the probe
    * map, and every other consumer joins or groups on `cid`. So there
    * is no exchange on cid, no sort and no `cid=` directory: the vector
    * rows reach disk once, and a load lists one directory with no job
    * (Spark lists more than 32 partition directories with a job).
    * Measured on 4 cores (ann_scale, 34k × 512-d, 59 cells, traced):
    * assign-and-write took 1.0 s + 1.7 s as an exchange on cid and a
    * partitioned write, 1.0 s as is. The cells are written without
    * parquet dictionaries: embedding floats are all distinct, so the
    * dictionary never pays and building it doubled the write (20k ×
    * 512-d in 64 cells, 2.2 s → 1.1 s). */
  def ensureIvf(s: SparkSession, dir: String, tag: String, k: Int, iters: Int)(
      build: => (DataFrame, DataFrame)): (DataFrame, DataFrame) = {
    once(s, dir, s"ivf_${tag}_k${k}_i$iters", "cells/_SUCCESS") { p =>
      val (cents, assigned) = build
      cents.coalesce(1).write.mode("overwrite").parquet(s"$p/centroids")
      assigned.write.mode("overwrite").option("parquet.enable.dictionary", "false")
        .parquet(s"$p/cells")
    }(p => (s.read.parquet(s"$p/centroids"), s.read.parquet(s"$p/cells")))
  }

  /** Generic build-once/load-many parquet table (e.g. the verified
    * dedup pair set — a real pipeline materializes it once and the
    * groups/apply stages read it, they don't re-mine the corpus). */
  def ensureTable(s: SparkSession, dir: String, tag: String)(build: => DataFrame): DataFrame =
    once(s, dir, tag, "_SUCCESS") { p =>
      build.write.mode("overwrite").parquet(p)
    }(s.read.parquet(_))

  /** Load a persisted PQ index (codebooks, codes), training/encoding
    * only on a miss. */
  def ensurePq(s: SparkSession, dir: String, m: Int, ksub: Int, iters: Int)(
      build: => (DataFrame, DataFrame)): (DataFrame, DataFrame) = {
    once(s, dir, s"pq_m${m}_k${ksub}_i$iters", "codes/_SUCCESS") { p =>
      val (cents, codes) = build
      cents.coalesce(1).write.mode("overwrite").parquet(s"$p/cents")
      codes.write.mode("overwrite").parquet(s"$p/codes")
    }(p => (s.read.parquet(s"$p/cents"), s.read.parquet(s"$p/codes")))
  }
}
