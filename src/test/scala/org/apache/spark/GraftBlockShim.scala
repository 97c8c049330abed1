package org.apache.spark

/** Test bridge to the `private[spark]` block manager master: drop every
  * cached block of an RDD while the RDD stays registered as persisted,
  * the way an executor loss drops them. */
object GraftBlockShim {
  def dropBlocks(rddId: Int): Unit =
    SparkEnv.get.blockManager.master.removeRdd(rddId, blocking = true)
}
