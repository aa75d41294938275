package graft.streaming

import graft.functions.Vec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
import org.apache.spark.sql.{DataFrame, Dataset}

/** Streaming vector ingestion: a stream of (vec_id, embedding) rows is
  * routed to IVF cells by a stream-static broadcast join against the
  * (small) centroid table — the continuous-ingestion half of the
  * reference's add_item/insert path, with the batch engine owning
  * periodic centroid refresh/compaction.
  *
  * Scale shape: the static side is k centroids (broadcast); assignment
  * is a stateless per-row map (VecL2Sq kernel + min-struct argmin), so
  * the stream needs no shuffle and no state store — cell files append
  * partitioned by cid, probes prune partitions (the ProjIndex.ensureIvf
  * cells layout).
  */
object VectorIngest {

  /** @param stream streaming DataFrame (vec_id: long, embedding: array<float>)
    * @param cents  static centroid table (cid: long, cv: array<double>)
    * @return streaming DataFrame (vec_id, embedding, cid)
    */
  def assignCells(stream: DataFrame, cents: DataFrame): DataFrame = {
    // stateless per-row argmin: streaming append mode forbids the
    // groupBy a join-then-min would need, so the k centroids pre-pivot
    // into ONE struct-array row (static side) and the argmin runs
    // inside a single projection per streamed row — no shuffle, no
    // state store.
    val centArr = cents
      .agg(collect_list(struct(col("cid").as("cid"), col("cv").as("cv"))).as("cs"))
    // withColumn + drop (not a positional select): every input column —
    // including an event-time ts driving a downstream timeout — passes
    // through with its metadata intact
    stream.crossJoin(broadcast(centArr))
      .withColumn("cid",
        array_min(transform(col("cs"), c =>
          struct(Vec.l2sqFast(col("embedding"), c.getField("cv")).as("d2"),
            c.getField("cid").as("cid")))).getField("cid"))
      .drop("cs")
  }

  // ---- online SemDeDup ----

  case class CellVec(vec_id: Long, emb: Seq[Float])
  case class CellState(members: List[CellVec])
  case class SemDrop(cid: Long, drop_vid: Long, keep_vid: Long, cos: Double)

  /** The batch dedup_semantic contract as a STREAM: arrivals route to
    * their k-means cell (assignCells' stateless argmin against the
    * persisted quantizer), and keyed cell state holds the residents
    * (kept AND dropped — in SemDeDup a dropped vector still witnesses
    * later drops, exactly like the batch pair join). A new arrival is
    * emitted as a drop when some resident clears the cosine threshold;
    * the witness is the smallest-id such resident. With ids arriving
    * in ascending order this equals the batch operator row-for-row
    * (the spec proves it — that is the only exactness proven). Out of
    * order, the witness loop ALSO requires m.vec_id < id — residency
    * alone isn't enough — so no SPURIOUS drop is ever emitted: a
    * smaller-id arrival is never dropped by an already-resident
    * larger-id vector. But append mode cannot retract, so a batch
    * drop whose smaller-id witness arrives AFTER the victim is simply
    * missed: under out-of-order arrival the streamed drop set is a
    * SUBSET of the batch answer and remains arrival-order-dependent.
    * State per cell is
    * a capped list — the cell-size knob is k, as in batch. The cosine
    * is the VecCosine fold exactly (floats widened per element).
    *
    * Retention is BOUNDED by an event-time timeout (r6/r7 item): the
    * input must carry an event-time `ts` column; a cell idle past
    * `retentionMs` is evicted when the watermark passes, so a drop
    * means "semantic duplicate of a resident within the retention
    * window" — residents older than the window no longer witness.
    * StreamingStateTimeoutSpec proves eviction. */
  def semanticDedupStream(
      stream: DataFrame,
      cents: DataFrame,
      tau: Double,
      cellCap: Int = 100000,
      retentionMs: Long = 30L * 60 * 1000,
      lateness: String = "0 seconds"): Dataset[SemDrop] = {
    val spark = stream.sparkSession
    import spark.implicits._
    assignCells(stream.withWatermark("ts", lateness), cents)
      .select(col("cid").cast("long"), col("vec_id"), col("embedding"), col("ts"))
      .as[(Long, Long, Seq[Float], java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[CellState, SemDrop](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (cid, rows, state) =>
          if (state.hasTimedOut) {
            // cell idle past retention: evict all residents
            state.remove()
            Iterator.empty
          } else {
          var members = state.getOption.map(_.members).getOrElse(Nil)
          val out = scala.collection.mutable.ArrayBuffer.empty[SemDrop]
          var maxEventMs = Long.MinValue
          def cos(a: Seq[Float], b: Seq[Float]): Double = {
            val n = math.min(a.length, b.length)
            var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
            while (i < n) {
              val x = a(i).toDouble; val y = b(i).toDouble
              dot += x * y; na += x * x; nb += y * y; i += 1
            }
            dot / math.sqrt(na * nb)
          }
          rows.toSeq.sortBy(_._2).foreach { case (_, id, emb, t) =>
            maxEventMs = math.max(maxEventMs, t.getTime)
            if (!members.exists(_.vec_id == id) && members.size < cellCap) {
              var keep = -1L
              var keepCos = 0.0
              members.foreach { m =>
                if ((keep < 0 || m.vec_id < keep) && m.vec_id < id) {
                  val c = cos(m.emb, emb)
                  if (c >= tau) { keep = m.vec_id; keepCos = c }
                }
              }
              if (keep >= 0) out += SemDrop(cid, id, keep, keepCos)
              members = members :+ CellVec(id, emb)
            }
          }
          state.update(CellState(members))
          state.setTimeoutTimestamp(
            math.max(maxEventMs + retentionMs, state.getCurrentWatermarkMs() + 1))
          out.iterator
          }
      }
  }
}
