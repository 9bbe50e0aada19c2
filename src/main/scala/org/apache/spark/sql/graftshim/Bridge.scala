package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.classic.{Dataset => CDataset, SparkSession => CSparkSession}

/** Column ⇄ Expression and LogicalPlan ⇄ DataFrame bridges.
  *
  * Spark 4's Column is Connect-agnostic and no longer exposes its Expression;
  * the classic converters (`ExpressionUtils`, `Dataset.ofRows`) are
  * `private[sql]`. Extension libraries defining custom Catalyst expressions
  * and analyzer rules need exactly these calls, so this shim lives under the
  * `org.apache.spark.sql` namespace to reach them — it contains no Spark
  * code, only forwarding.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  /** Wrap an analyzed/analyzable logical plan as a DataFrame. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    CDataset.ofRows(spark.asInstanceOf[CSparkSession], plan)

  /** A new session sharing this one's SparkContext, cache and extensions,
    * with its own copy of the SQL conf (`SparkSession.cloneSession`,
    * `private[sql]`). */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[CSparkSession].cloneSession()

  /** Wrap an `RDD[InternalRow]` (e.g. `df.queryExecution.toRdd`) back as a
    * DataFrame (`SparkSession.internalCreateDataFrame`, `private[sql]`).
    *
    * The one SQL-visible way to pin a SINGLE physical instance of a
    * nondeterministically-partitioned exchange under multiple consumers:
    * `ReusedExchange` requires exchange-subtree identity, which the
    * optimizer silently breaks by column-pruning one consumer's branch —
    * after which each branch materializes its OWN exchange with its own
    * sampled range boundaries (seeded per RDD id). Consumers of the wrapped
    * RDD all read the one handle; the shuffle's map output is computed once
    * and reused across their jobs (r19 GroupedRank fix). */
  def ofInternalRdd(
      spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[CSparkSession].internalCreateDataFrame(rdd, schema)

  /** Unload every loaded streaming state-store provider and stop the
    * maintenance task (`StateStore.stop()`, `private[sql]`). Hygiene for a
    * long single-JVM suite running hundreds of short-lived streaming
    * queries: each leaves its providers loaded until the next maintenance
    * tick (60 s default), so providers — and their HDFSBackedStateStore
    * in-memory version maps — accumulate between ticks. The store lazily
    * restarts on the next streaming query; calling this between queries is
    * safe and idle-cheap. */
  def unloadStateStores(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()

  /** Block until every event posted so far has reached every listener
    * (`listenerBus` is `private[spark]`). Listener events are delivered
    * asynchronously; a fixed sleep can under-wait on a loaded host and read
    * short counts, this cannot. */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** TEST-ONLY: synthesize a task-end event carrying shuffle read/write
    * and spill bytes, so a spec can replay multi-attempt retry event
    * sequences through the bench IO accounting (`graft.QueryIoListener`)
    * — real fetch-failure retries can't be forced deterministically on a
    * healthy local cluster, and every `TaskMetrics` mutator is
    * `private[spark]`, which is why this lives in the shim. */
  def taskEndEvent(stageId: Int, stageAttempt: Int, shuffleRead: Long,
      shuffleWrite: Long, spill: Long)
      : org.apache.spark.scheduler.SparkListenerTaskEnd = {
    val tm = org.apache.spark.executor.TaskMetrics.empty
    val sr = tm.createTempShuffleReadMetrics()
    sr.incLocalBytesRead(shuffleRead)
    tm.mergeShuffleReadMetrics()
    tm.shuffleWriteMetrics.incBytesWritten(shuffleWrite)
    tm.incMemoryBytesSpilled(spill)
    org.apache.spark.scheduler.SparkListenerTaskEnd(
      stageId, stageAttempt, "ResultTask", org.apache.spark.Success,
      null, null, tm)
  }
}
