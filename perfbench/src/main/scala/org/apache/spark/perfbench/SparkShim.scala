package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.StageInfo

/** The two scheduler facts the benchmark's ledger needs that Spark keeps
  * package-private. */
object SparkShim {

  /** Listener events arrive asynchronously; the ledger is read only after
    * the bus has delivered every event posted so far. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** The shuffle a map stage writes, if it is one. */
  def shuffleDepId(si: StageInfo): Option[Int] = si.shuffleDepId
}
