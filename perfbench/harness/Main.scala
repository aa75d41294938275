package graftbench

import graft.{SparkEntry, Tables}
import graft.operators.{Par, ProjIndex, Rescore}
import graft.queries._
import org.apache.spark.sql.functions.{col, count, lit, max, min, size}
import org.apache.spark.sql.{Row, SparkSession}

import java.io.{File, PrintWriter}
import scala.collection.mutable

/** The benchmark's closed-loop client: one driver thread calls the
  * engine's public query and artifact functions back to back, times
  * each call, and keeps the rows of the first measured call of each
  * operation for the correctness checks, which `run.py` makes.
  *
  * Usage (from run.py): graftbench.Main --workload W --out DIR
  *   --seconds S --min-passes N --trace 0|1 --setup DIR[,DIR...]
  *   --measure DIR [--queries NAME,NAME,...]
  *
  * Every `--setup` directory is a fresh copy of the workload's input,
  * so each set-up repetition builds its artifacts cold; the set-up time
  * is reported per repetition. `--measure` is the input the timed part
  * runs on.
  * Results go to DIR/result.json, spans to DIR/spans.json, rows to
  * DIR/rows/<operation>.
  */
object Main {

  val AnnSearches: Seq[String] = Seq("gt_topk_l2", "ivf_search")

  /** Catalog family of every query, from the family registries. */
  lazy val families: Map[String, String] = Seq(
    "relational" -> (Relational.qs ++ Relational2.qs ++ Relational3.qs),
    "vector" -> (VectorQs.qs ++ VectorQs2.qs ++ VectorQs3.qs ++ VectorQs4.qs),
    "hnsw" -> (HnswQs.qs ++ HnswQs2.qs ++ HnswQs3.qs),
    "incremental" -> IncrementalQs.qs,
    "text" -> (TextQs.qs ++ TextQs2.qs),
    "dedup" -> (DedupQs.qs ++ DedupQs2.qs),
    "curation" -> CurationQs.qs,
    "multimodal" -> MultimodalQs.qs,
  ).flatMap { case (f, qs) => qs.map(_.name -> f) }.toMap

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String): String = a.getOrElse(k, sys.error(s"missing --$k"))
    val workload = req("workload")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val spark = Tables.session("graft-bench", cpus)
    val run = new Run(spark, workload, req("out"), req("seconds").toDouble,
      req("min-passes").toInt, req("trace") == "1")
    val setup = req("setup").split(',').toSeq
    val measure = req("measure")
    run.env("spark_master") = spark.sparkContext.master
    run.env("nproc") = Runtime.getRuntime.availableProcessors
    run.env("SPARK_GRAFT_CPUS") = sys.env.getOrElse("SPARK_GRAFT_CPUS", "unset")
    run.env("SPARK_GRAFT_QPAR") = sys.env.getOrElse("SPARK_GRAFT_QPAR", "unset")
    run.env("heap_mb") = Runtime.getRuntime.maxMemory / (1 << 20)
    run.env("par_width") = Par.width
    try workload match {
      case "catalog" => catalog(run, setup, measure, req("queries").split(',').toSeq.sorted)
      case "ann_scale" => annScale(run, setup, measure)
      case w => sys.error(s"unknown workload $w")
    } finally {
      run.finish()
      spark.stop()
    }
  }

  private def fitsBank(run: Run, dir: String): Unit = {
    val n = Tables.baseCount(run.spark, dir)
    val dim = Tables.embDim(run.spark, dir)
    run.env("base_rows") = n
    run.env("dim") = dim
    run.env("gate.fits_bank") = if (Rescore.fitsBank(n, dim)) 1 else 0
  }

  /** A cold phase must find no artifact of its corpus in the store. */
  private def assertCold(dir: String): Unit = {
    val store = new File(ProjIndex.tablePath(dir, "probe")).getParentFile
    require(!store.exists, s"artifact store is not empty for $dir: $store")
  }

  private def query(run: Run, name: String, dir: String): Array[Row] =
    SparkEntry.queries(name)(run.spark, dir).collect()

  /** Warm passes over a fixed catalog subset. Each set-up repetition
    * builds, on a fresh copy of the tables, the persisted artifacts the
    * subset loads, as graft.Bench does. The timed passes run on the last
    * set-up copy; the first of them also pays the JIT's first calls.
    * The traced run also counts MinHash candidate and verified pairs. */
  def catalog(run: Run, setup: Seq[String], dir: String, qs: Seq[String]): Unit = {
    setup.foreach { d =>
      assertCold(d)
      run.setup(catalogBuilds(run, d))
    }
    fitsBank(run, dir)
    run.env("queries") = qs.size
    run.measurePasses { keep =>
      qs.foreach(q => run.op(q, keep = keep)(query(run, q, dir)))
    }
    if (run.traced) run.afterwards {
      val s = run.spark
      run.op("minhash.count") {
        val b = DedupQs.bandedPublic(s, dir)
        val cand = b.as("x").join(b.as("y"),
          col("x.band_idx") === col("y.band_idx") && col("x.bkey") === col("y.bkey") &&
            col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id"), col("y.doc_id")).distinct().count()
        run.counts("minhash.candidate_pairs") = cand
        run.counts("minhash.verified_pairs") = DedupQs.minhashPairs(s, dir).count()
      }
    }
  }

  /** The persisted artifacts the catalog subset loads (the PQ index,
    * the verified MinHash pairs), built through their public builders
    * so each build is timed on its own. */
  private def catalogBuilds(run: Run, dir: String): Unit = {
    val s = run.spark
    run.op("pq.build")(VectorQs3.pqIndex(s, dir))
    run.op("minhash.build")(DedupQs.minhashPairs(s, dir))
  }

  /** Cold build of the IVF quantizer ivf_search loads, then warm search
    * rounds: exact brute force and IVF. Each set-up repetition loads and
    * validates the corpus: base and query row counts and one dimension
    * for every row. */
  def annScale(run: Run, setup: Seq[String], dir: String): Unit = {
    setup.foreach { _ =>
      run.setup(run.op("load") {
        val emb = run.spark.read.parquet(s"$dir/embeddings.parquet")
        val r = emb.groupBy((col("vec_id") % 50 === 0).as("query"))
          .agg(count(lit(1)).as("n"), min(size(col("embedding"))).as("lo"),
            max(size(col("embedding"))).as("hi"))
          .collect()
        require(r.length == 2 && r.forall(x => x.getInt(2) == x.getInt(3)),
          s"malformed corpus $dir: ${r.mkString(",")}")
      })
    }
    assertCold(dir)
    fitsBank(run, dir)
    run.measureOnce { run.op("ivf.build")(VectorQs3.baseIvf(run.spark, dir)) }
    run.measurePasses { keep =>
      AnnSearches.foreach(q => run.op(q, keep = keep)(query(run, q, dir)))
    }
  }
}

/** Timing, spans, failures and kept rows of one benchmark run. */
final class Run(
    val spark: SparkSession, workload: String, outDir: String,
    seconds: Double, minPasses: Int, val traced: Boolean) {

  val env = mutable.LinkedHashMap.empty[String, Any]
  val counts = mutable.LinkedHashMap.empty[String, Long]
  private val tracer = if (traced) Some(new Tracer(spark.sparkContext)) else None
  private var tracing = traced
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private def newId(): Long = { nextId += 1; nextId }
  private val root = Span(1L, 0L, "workload", workload, System.currentTimeMillis, 0L)
  private val runId = s"$workload-${root.start}"
  private var phase = root
  // (span, phase kind, pass index, traced, seconds) of every operation
  private val ops = mutable.ArrayBuffer.empty[(Span, String, Int, Boolean, Double)]
  private var pass = 0
  private val setupTimes = mutable.ArrayBuffer.empty[Double]
  private val passTimes = mutable.ArrayBuffer.empty[(Int, Double, Boolean)]
  private var attempted = 0
  private val failures = mutable.ArrayBuffer.empty[String]
  private val kept = mutable.Set.empty[String]
  new File(s"$outDir/rows").mkdirs()

  private def inPhase[T](kind: String)(body: => T): (T, Double) = {
    val p = Span(newId(), root.id, "phase", kind, System.currentTimeMillis, 0L)
    val prev = phase
    phase = p
    val t0 = System.nanoTime()
    try {
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    } finally {
      spans += p.copy(end = System.currentTimeMillis)
      phase = prev
    }
  }

  /** One set-up repetition. */
  def setup(body: => Any): Unit = setupTimes += inPhase("setup")(body)._2

  /** Timed work done once per run (pass 0). */
  def measureOnce(body: => Any): Unit = {
    pass = 0
    val (_, dt) = inPhase("measure")(body)
    passTimes += ((0, dt, tracing))
  }

  /** Repeat `body` until the run's seconds are spent and at least
    * `minPasses` passes ran. A traced run alternates untraced and traced
    * passes to measure the tracing overhead. `body` is told to keep rows
    * on the first pass only. */
  def measurePasses(body: Boolean => Unit): Unit = {
    val t0 = System.nanoTime()
    var n = 0
    while (n < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      n += 1
      pass = n
      setTracing(!traced || n % 2 == 0)
      val (_, dt) = inPhase("measure")(body(n == 1))
      passTimes += ((n, dt, tracing))
    }
    setTracing(traced)
  }

  /** Untimed extra work after the measurement (the traced run's counts). */
  def afterwards(body: => Any): Unit = {
    pass = -1
    inPhase("count")(body)
  }

  private def setTracing(on: Boolean): Unit = tracer.foreach { t =>
    if (on != tracing) {
      if (on) spark.sparkContext.addSparkListener(t) else spark.sparkContext.removeSparkListener(t)
      tracing = on
    }
  }

  /** Time one call; a throw counts as a failed operation. Rows the call
    * returns are kept for checking when `keep` is set. */
  def op[T](name: String, keep: Boolean = false)(body: => T): Option[T] = {
    attempted += 1
    val sc = spark.sparkContext
    sc.setJobGroup(name, s"${phase.name}:$name", interruptOnCancel = false)
    val start = System.currentTimeMillis
    val t0 = System.nanoTime()
    val r = try Some(body) catch {
      case e: Throwable =>
        failures += s"${phase.name}:$name: ${e.toString.take(300)}"
        None
    } finally sc.clearJobGroup()
    val dt = (System.nanoTime() - t0) / 1e9
    val s = Span(newId(), phase.id, "op", name, start, System.currentTimeMillis)
    spans += s
    ops += ((s, phase.name, pass, tracing, dt))
    // intra-operation caches must not leak into the next timing
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(false))
    r.foreach {
      case rows: Array[Row] if keep && rows.nonEmpty && kept.add(name) =>
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), rows.head.schema)
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/rows/$name")
      case rows: Array[Row] if keep && kept.add(name) =>
        new File(s"$outDir/rows/$name.empty").createNewFile()
      case _ =>
    }
    r
  }

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def json(v: Any): String = v match {
    case s: String => q(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => q(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case b: Boolean => b.toString
    case x => x.toString
  }

  def finish(): Unit = {
    val end = System.currentTimeMillis
    spans += root.copy(end = end)
    val opSpans = ops.map(_._1).toSeq
    val layers = tracer.map { t =>
      t.drain()
      val tot = t.totals(opSpans)
      val jobs = t.attribute(opSpans)
      // job spans take negative ids so they never collide with harness spans
      val jobSpans = jobs.map { case (id, s, t0, t1) => Span(-1L - id, s.id, "job", s"job-$id", t0, t1) }
      val opJobs = jobs.groupBy(_._2.id)
      def busyMs(s: Span): Long = {
        // union of the op's job intervals, clipped to the op
        val iv = opJobs.getOrElse(s.id, Nil).map(j => (math.max(j._3, s.start), math.min(j._4, s.end)))
          .filter(x => x._2 > x._1).sortBy(_._1)
        var covered = 0L; var curS = -1L; var curE = -1L
        iv.foreach { case (a, b) =>
          if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
          else curE = math.max(curE, b)
        }
        if (curE > curS) covered += curE - curS
        covered
      }
      ops.map { case (s, ph, p, tr, _) =>
        val tt = tot.getOrElse(s.id, new TaskTotals)
        val d = tt.durations.sorted
        Map(
          "span" -> s.id, "name" -> s.name, "phase" -> ph, "pass" -> p, "traced" -> tr,
          "wall_ms" -> (s.end - s.start), "busy_ms" -> busyMs(s), "jobs" -> tt.jobs,
          "tasks" -> tt.tasks, "cpu_ns" -> tt.cpuNs, "run_ms" -> tt.runMs, "gc_ms" -> tt.gcMs,
          "shuffle_read" -> tt.shuffleRead, "shuffle_write" -> tt.shuffleWrite,
          "spill" -> tt.spill, "result_bytes" -> tt.resultBytes,
          "task_durations" -> d)
      }.toSeq -> jobSpans
    }
    val allSpans = spans.toSeq ++ layers.map(_._2).getOrElse(Nil)
    val w = new PrintWriter(s"$outDir/spans.json")
    try w.write(json(allSpans.sortBy(_.start).map(s => Map(
      "run" -> runId, "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
      "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end))))
    finally w.close()
    val res = mutable.LinkedHashMap[String, Any](
      "workload" -> workload,
      "env" -> env,
      "attempted" -> attempted,
      "failures" -> failures,
      "setup_s" -> setupTimes,
      "passes" -> passTimes.map { case (p, dt, tr) => Map("pass" -> p, "wall_s" -> dt, "traced" -> tr) },
      "ops" -> ops.map { case (s, ph, p, tr, dt) =>
        Map("name" -> s.name, "phase" -> ph, "pass" -> p, "traced" -> tr, "wall_s" -> dt) },
      "counts" -> counts,
      "families" -> Main.families,
      "oracles" -> SparkEntry.oracleSql)
    layers.foreach(l => res("layers") = l._1)
    val rw = new PrintWriter(s"$outDir/result.json")
    try rw.write(json(res)) finally rw.close()
  }
}
