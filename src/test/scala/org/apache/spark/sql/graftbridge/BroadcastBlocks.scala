package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkEnv
import org.apache.spark.storage.BroadcastBlockId
import org.apache.spark.util.SerializableConfiguration

import scala.util.Try

/** The driver's block manager is private[spark]; specs read it here. */
object BroadcastBlocks {

  /** Ids of the broadcasts the driver holds whose value is data a
    * caller broadcast: every broadcast except Spark's own task binaries
    * (byte arrays) and per-scan Hadoop configurations. */
  def payloads(): Set[Long] = {
    val bm = SparkEnv.get.blockManager
    bm.getMatchingBlockIds(_.isBroadcast).collect {
      case b: BroadcastBlockId if b.field.isEmpty => b
    }.filter { b =>
      Try(bm.memoryStore.getValues(b).flatMap(_.toSeq.headOption)).toOption.flatten.exists {
        case _: Array[Byte] | _: SerializableConfiguration => false
        case _ => true
      }
    }.map(_.broadcastId).toSet
  }
}
