package org.apache.spark

import org.apache.spark.storage.RDDBlockId

/** Ids of the RDDs that have blocks registered with the block manager
  * master. The master is package-private to Spark; its metadata, unlike
  * `SparkContext.getPersistentRDDs` (a weak-valued map), does not lose
  * an RDD to garbage collection while its blocks are still stored.
  */
object BlockProbe {
  def storedRddIds(sc: SparkContext): Set[Int] =
    sc.env.blockManager.master
      .getMatchingBlockIds(_.isInstanceOf[RDDBlockId], askStorageEndpoints = false)
      .collect { case b: RDDBlockId => b.rddId }.toSet
}
