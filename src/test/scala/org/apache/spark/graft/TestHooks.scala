package org.apache.spark.graft

import org.apache.spark.{SparkContext, SparkEnv}
import org.apache.spark.storage.RDDBlockId

/** Test-only reach into `private[spark]` machinery: block loss and a
  * listener-bus drain (so asynchronous listener state is complete before
  * a spec asserts on it).
  */
object TestHooks {
  /** Drops one RDD block from the block manager — in local mode the only
    * one, so this is what an executor loss does to that block.
    */
  def removeRddBlock(rddId: Int, partition: Int): Unit =
    SparkEnv.get.blockManager.removeBlock(RDDBlockId(rddId, partition))

  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
