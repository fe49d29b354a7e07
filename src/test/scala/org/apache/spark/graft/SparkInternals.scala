package org.apache.spark.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.RDDBlockId

/** Test access to SparkContext internals that Spark keeps package-private. */
object SparkInternals {
  /** Blocks until every posted listener event has been delivered. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** True when the session's CacheManager holds no cached relation. */
  def cacheManagerIsEmpty(spark: SparkSession): Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager.isEmpty

  /** True for a stage that writes shuffle output (a shuffle map stage). */
  def isShuffleMapStage(info: org.apache.spark.scheduler.StageInfo): Boolean = info.shuffleDepId.isDefined

  /** Removes every stored block of an RDD, as if the executors holding them
    * were lost; the RDD stays registered as persisted. */
  def dropRddBlocks(sc: SparkContext, rddId: Int): Unit =
    sc.env.blockManager.master.removeRdd(rddId, blocking = true)

  /** The stored blocks of an RDD, cluster-wide. */
  def rddBlocks(sc: SparkContext, rddId: Int): Seq[org.apache.spark.storage.BlockId] =
    sc.env.blockManager.master.getMatchingBlockIds({
      case RDDBlockId(`rddId`, _) => true
      case _ => false
    }, askStorageEndpoints = true)
}
