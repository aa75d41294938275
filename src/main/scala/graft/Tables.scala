package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table loading + the query-catalog plumbing shared by every family.
  *
  * A `Q` is one operator from SURVEY.md §2: a Spark implementation plus
  * (when ANSI-SQL-expressible) a DuckDB oracle over the same parquet
  * tables. Determinism contract (SURVEY §6): money/measure aggregates go
  * through exact DECIMAL sums then one cast to double; ranked outputs
  * break ties by id; no engine-specific hash functions in any oracle'd
  * query (portable MD5 ordering instead).
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Tables {

  /** Reads with Spark's own inferred schema, memoized per file stamp
    * (ProjIndex.memo): inference is a Spark job per read, one driver
    * getFileStatus is not. The schema and not the frame: a fresh
    * relation per call keeps a self-join of two loads unambiguous. */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val p = s"$dir/$name.parquet"
    spark.read.schema(stamped(spark, p, p)(spark.read.parquet(p).schema)).parquet(p)
  }

  /** `read` memoized under `key` while the file at `path` keeps its
    * (length, mtime): an in-place rewrite recomputes it. */
  private def stamped[T <: AnyRef](spark: SparkSession, path: String, key: String)(read: => T): T = {
    val p = new org.apache.hadoop.fs.Path(path)
    val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
    operators.ProjIndex.memo(spark, key, (st.getLen, st.getModificationTime))(read)
  }

  /** A fact about the `embeddings` table, memoized per file stamp under
    * `what` (a scan is a Spark job; rule sites ask many times). */
  private def ofEmbeddings[T](spark: SparkSession, dir: String, what: String)(
      f: DataFrame => T): T = {
    val p = s"$dir/embeddings.parquet"
    stamped(spark, p, s"$p#$what")(Tuple1(f(t(spark, dir, "embeddings"))))._1
  }

  /** BASE-side row count of the `embeddings` table (vec_id % 50 <> 0)
    * — the `n` every data-sized rule derives from (Ivf.cellsFor,
    * HnswQs.richKFor, HnswQs3.routedKnobsFor). */
  def baseCount(spark: SparkSession, dir: String): Long =
    ofEmbeddings(spark, dir, "base")(
      _.filter(org.apache.spark.sql.functions.col("vec_id") % 50 =!= 0).count())

  /** TOTAL row count of the `embeddings` table (base + query split) —
    * for gates over whole-table banks (knn_refine's rescore). */
  def embCount(spark: SparkSession, dir: String): Long =
    ofEmbeddings(spark, dir, "rows")(_.count())

  /** Embedding dimensionality of a corpus — drives the LSH plane-bank
    * width (Lsh.bandPlanesFor) so a 200d corpus hashes all 200
    * components instead of a 64-prefix. One first-row probe. */
  def embDim(spark: SparkSession, dir: String): Int =
    ofEmbeddings(spark, dir, "dim")(
      _.select(org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.col("embedding"))).head().getInt(0))

  /** (base rows, dim) of a corpus: what sizes every kernel gate over
    * its base bank (the `kernelInfo` of BeamSearch, Ivf.centroids). */
  def kernelInfo(spark: SparkSession, dir: String): Option[(Long, Int)] =
    Some((baseCount(spark, dir), embDim(spark, dir)))

  /** `events.ts` is parquet TIMESTAMP(NANOS), which Spark only reads as
    * a nanos-since-epoch long (spark.sql.legacy.parquet.nanosAsLong).
    * Normalize to a microsecond TIMESTAMP (`ts div 1000` — exact long
    * floor-division; doubles would lose precision at 1e18). DuckDB's
    * `ts::TIMESTAMP` truncates ns→us the same way. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = t(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case _ => raw
    }
  }

  /** One shared SparkSession config for mains/specs: local[N], AQE on,
    * shuffle partitions sized to cores (not 200) — SURVEY §5. */
  def session(appName: String, cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // ObjectHashAggregate (every TypedImperativeAggregate: TopKAgg,
      // TopKPairs, Moments) falls back to SORT-based aggregation past
      // this many distinct keys per task — the default 128 means any
      // top-k-per-group over more than 128 groups sorts its ENTIRE
      // candidate stream (at 10M that sort's spill is what filled the
      // disk under the old PQ encode). Our per-group states are
      // k-bounded (pools, rank lists), so a 64k-key hash map is tens
      // of MB — keep the map-side combine combining.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      // the library's extension surface IS the production config: SQL
      // vector kernels + WindowTopKRule (applies when this session owns
      // context creation — mains and the first test session; late
      // sessions use GraftFunctions.register)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
