package org.apache.spark.perfbench

import org.apache.spark.{SparkContext, SparkEnv}

/** What the benchmark needs from Spark that Spark keeps package-private. */
object Engine {
  /** The block manager's own view of cached RDD blocks: (blocks still
    * held, their memory plus disk bytes). `getPersistentRDDs` empties
    * as soon as `unpersist(blocking = false)` is called, while the
    * blocks themselves go away later. Local mode has one block manager,
    * the driver's. */
  def rddBlocks(): (Int, Long) = {
    val bm = SparkEnv.get.blockManager
    val ids = bm.getMatchingBlockIds(_.isRDD)
    (ids.size, ids.flatMap(bm.getStatus).map(s => s.memSize + s.diskSize).sum)
  }

  /** Waits until every event posted so far has reached every listener.
    * Listeners run asynchronously on the listener bus, so counters read
    * without this miss the last jobs' events or count earlier ones. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
