package org.apache.spark

/** Test access to the `private[spark]` block manager master: remove every
  * block of every persisted RDD, as a lost executor would, while the RDDs
  * and the CacheManager entries built on them stay registered. */
object BlockDrop {
  def apply(sc: SparkContext): Unit =
    sc.getPersistentRDDs.keys.foreach(id =>
      sc.env.blockManager.master.removeRdd(id, blocking = true))
}
