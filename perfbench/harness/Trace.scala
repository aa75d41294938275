package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One span of the traced run: workload -> operation -> Spark job.
  * Times are epoch milliseconds; `parent` is the enclosing span's id. */
final case class Span(
    id: Long, parent: Long, kind: String, name: String, start: Long, end: Long)

/** Per-operation totals of the tasks its Spark jobs ran. */
final class TaskTotals {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var resultBytes = 0L
  val durations = mutable.ArrayBuffer.empty[Long]
}

/** SparkListener for the traced run. Jobs are attributed to the
  * operation named by their job group, which the harness sets around
  * every call; a job without a known group (one started from a thread
  * that did not inherit the group) falls to the operation whose span
  * contains the job's start. Everything stays in memory until `spans`
  * and `totals` are read at the end of the run. */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val lock = new Object
  private val jobStart = mutable.Map.empty[Int, (Long, String)]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val jobSpans = mutable.ArrayBuffer.empty[(Int, String, Long, Long)]
  private val taskRows = mutable.ArrayBuffer.empty[(Int, TaskEnd)]

  private final case class TaskEnd(
      cpuNs: Long, runMs: Long, gcMs: Long, shRead: Long, shWrite: Long,
      spill: Long, result: Long, dur: Long)

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobStart(e.jobId) = (e.time, g)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobStart.get(e.jobId).foreach { case (t0, g) =>
      jobSpans += ((e.jobId, g, t0, e.time))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    val m = e.taskMetrics
    if (m != null) {
      taskRows += ((stageJob.getOrElse(e.stageId, -1), TaskEnd(
        m.executorCpuTime, m.executorRunTime, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled, m.resultSize, e.taskInfo.duration)))
    }
  }

  /** Wait until the listener bus has delivered every event so far. */
  def drain(): Unit = org.apache.spark.BenchBus.drain(sc)

  /** Job spans as (jobId, owning op span, start, end), each job given
    * to an operation span by group name, else by start time. */
  def attribute(ops: Seq[Span]): Seq[(Int, Span, Long, Long)] = lock.synchronized {
    val byName = ops.groupBy(_.name)
    jobSpans.toSeq.flatMap { case (id, g, t0, t1) =>
      val byGroup = Option(g).flatMap(byName.get).flatMap(_.find(s => s.start <= t0 && t0 <= s.end))
      byGroup.orElse(ops.find(s => s.start <= t0 && t0 <= s.end)).map(s => (id, s, t0, t1))
    }
  }

  /** Task totals per operation span id. */
  def totals(ops: Seq[Span]): Map[Long, TaskTotals] = {
    val jobs = attribute(ops)
    val jobOp = jobs.map { case (j, s, _, _) => j -> s.id }.toMap
    val out = mutable.Map.empty[Long, TaskTotals]
    jobs.foreach { case (_, s, _, _) => out.getOrElseUpdate(s.id, new TaskTotals).jobs += 1 }
    lock.synchronized {
      taskRows.foreach { case (j, t) =>
        jobOp.get(j).foreach { op =>
          val a = out.getOrElseUpdate(op, new TaskTotals)
          a.tasks += 1; a.cpuNs += t.cpuNs; a.runMs += t.runMs; a.gcMs += t.gcMs
          a.shuffleRead += t.shRead; a.shuffleWrite += t.shWrite; a.spill += t.spill
          a.resultBytes += t.result; a.durations += t.dur
        }
      }
    }
    out.toMap
  }
}
