package org.apache.spark.graftbench

import org.apache.spark.{SparkContext, SparkEnv}
import org.apache.spark.storage.BroadcastBlockId

/** The few `private[spark]` handles the benchmark reads from outside the
  * engine: draining the listener bus before counters are read, and the
  * broadcast blocks held by the driver's block manager. */
object SparkInternals {

  /** Block until every posted listener event has been delivered. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** Serialized bytes of each live broadcast, keyed by broadcast id
    * (the sum of its `piece` blocks in the driver's block manager). */
  def liveBroadcastBytes(): Map[Long, Long] = {
    val bm = SparkEnv.get.blockManager
    bm.getMatchingBlockIds(_.isBroadcast).collect {
      case b: BroadcastBlockId => b
    }.groupBy(_.broadcastId).map { case (id, blocks) =>
      id -> blocks.filter(_.field.startsWith("piece")).map { b =>
        bm.getStatus(b).map(s => s.memSize + s.diskSize).getOrElse(0L)
      }.sum
    }
  }
}
