package org.apache.spark

import org.apache.spark.storage.RDDBlockId

/** Test-side view of the block store (`BlockManagerMaster` is
  * `private[spark]`). Asks every block manager for the RDD blocks it
  * holds right now, unlike `SparkContext.getRDDStorageInfo`, which only
  * reports RDDs still reachable through its weak-valued map.
  */
object BlockProbe {
  def rddIds(sc: SparkContext): Set[Int] =
    sc.env.blockManager.master
      .getMatchingBlockIds(_.isRDD, askStorageEndpoints = true)
      .collect { case RDDBlockId(id, _) => id }.toSet
}
