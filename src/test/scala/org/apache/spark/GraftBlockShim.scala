package org.apache.spark

import org.apache.spark.storage.{BlockId, BroadcastBlockId}

/** Test bridge to the `private[spark]` block manager master: drop every
  * cached block of an RDD while the RDD stays registered as persisted,
  * the way an executor loss drops them; list the blocks a broadcast still
  * holds. */
object GraftBlockShim {
  def dropBlocks(rddId: Int): Unit =
    SparkEnv.get.blockManager.master.removeRdd(rddId, blocking = true)

  /** The blocks of broadcast `id` (its value and its pieces) that any
    * block manager still holds. */
  def broadcastBlocks(id: Long): Seq[BlockId] =
    SparkEnv.get.blockManager.master.getMatchingBlockIds({
      case BroadcastBlockId(`id`, _) => true
      case _ => false
    }, askStorageEndpoints = true)
}
