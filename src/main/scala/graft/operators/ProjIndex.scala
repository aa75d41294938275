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

  /** bump on any change to ANY artifact build semantics — v3: the r8
    * data-sized quantizer builds train on a stride-sampled subset
    * (Ivf.sizedBuild), and the ivf/pq paths encode only (tag, k,
    * iters), so a pre-stride artifact at the same (k, iters) would
    * silently alias the new build at corpus sizes where the derived k
    * matches but stride > 1. */
  private val Version = "v3"

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

  /** Run `write` on the artifact path unless `last` — the _SUCCESS
    * marker of the LAST part `write` produces — exists: a crash between
    * two part writes must re-trigger the build, not wedge every later
    * run on a half-saved artifact. Returns the path to read from. */
  private def once(s: SparkSession, dir: String, tag: String, last: String)(
      write: String => Unit): String = {
    val p = tablePath(dir, tag)
    val done = new Path(s"$p/$last")
    val fs = done.getFileSystem(s.sparkContext.hadoopConfiguration)
    buildLocks.computeIfAbsent(p, _ => new Object).synchronized {
      if (!fs.exists(done)) write(p)
    }
    p
  }

  /** Load the persisted projection graph, building and saving it first
    * if absent (repartitioned on src so each file holds whole adjacency
    * lists for co-located traversal joins). `build` is only evaluated
    * on a miss — as in every `ensure*` below. */
  def ensureGraph(s: SparkSession, dir: String)(build: => DataFrame): DataFrame =
    s.read.parquet(once(s, dir, "proj_graph", "_SUCCESS") { p =>
      build.repartition(col("src")).sortWithinPartitions(col("src"))
        .write.mode("overwrite").parquet(p)
    })

  /** Load a persisted IVF index (centroids, assigned cells), running
    * the deterministic k-means build only on a miss. Keyed by
    * (scope tag, k, iters) — different query scopes use different
    * quantizers. Cells are partitioned by cid, so a probe reads only
    * its cells' files. */
  def ensureIvf(s: SparkSession, dir: String, tag: String, k: Int, iters: Int)(
      build: => (DataFrame, DataFrame)): (DataFrame, DataFrame) = {
    val p = once(s, dir, s"ivf_${tag}_k${k}_i$iters", "cells/_SUCCESS") { p =>
      val (cents, assigned) = build
      cents.coalesce(1).write.mode("overwrite").parquet(s"$p/centroids")
      assigned.write.mode("overwrite").partitionBy("cid").parquet(s"$p/cells")
    }
    (s.read.parquet(s"$p/centroids"), s.read.parquet(s"$p/cells"))
  }

  /** Generic build-once/load-many parquet table (e.g. the verified
    * dedup pair set — a real pipeline materializes it once and the
    * groups/apply stages read it, they don't re-mine the corpus). */
  def ensureTable(s: SparkSession, dir: String, tag: String)(build: => DataFrame): DataFrame =
    s.read.parquet(once(s, dir, tag, "_SUCCESS") { p =>
      build.write.mode("overwrite").parquet(p)
    })

  /** Load a persisted PQ index (codebooks, codes), training/encoding
    * only on a miss. */
  def ensurePq(s: SparkSession, dir: String, m: Int, ksub: Int, iters: Int)(
      build: => (DataFrame, DataFrame)): (DataFrame, DataFrame) = {
    val p = once(s, dir, s"pq_m${m}_k${ksub}_i$iters", "codes/_SUCCESS") { p =>
      val (cents, codes) = build
      cents.coalesce(1).write.mode("overwrite").parquet(s"$p/cents")
      codes.write.mode("overwrite").parquet(s"$p/codes")
    }
    (s.read.parquet(s"$p/cents"), s.read.parquet(s"$p/codes"))
  }
}
