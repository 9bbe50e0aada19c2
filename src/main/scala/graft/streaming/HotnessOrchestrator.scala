package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Monitor-driven restart orchestration for adaptive streaming skew joins.
  *
  * [[RefreshableHotness]] documents the production pattern it leaves to the
  * caller: a running query's replication column probes an immutable sketch
  * snapshot, so a model refresh only takes effect at the next query
  * (re)start from checkpointed offsets. This helper automates that restart.
  * Its monitor folds each micro-batch into the model, then measures DRIFT —
  * how many of the batch's distinct keys now get a different replication
  * than under the snapshot the running query was built on — and once drift
  * reaches `driftThreshold` keys it stops the query and invokes the factory
  * again, which rebuilds the join against the refreshed model. With a
  * checkpointed sink, the restarted query resumes from committed offsets:
  * no rows are reprocessed and no manual re-wiring happens.
  *
  * `startQuery` MUST start its sink with a fixed `checkpointLocation` (the
  * standard restartable-sink contract) — that is what makes stop + rebuild
  * + start a safe re-plan rather than a reprocessing event. Drift is
  * measured on the BATCH's keys (key columns only, one distinct + one
  * aggregate over micro-batch-sized data): a key can only become hot by
  * appearing in batches, so watching the batch keys sees every transition.
  */
final class HotnessOrchestrator(
    hotness: RefreshableHotness,
    startQuery: () => StreamingQuery,
    driftThreshold: Int = 1) {
  require(driftThreshold >= 1, "driftThreshold must be at least 1")

  // the running query's replication column, built from the snapshot it saw
  @volatile private var pinned: Column = _
  @volatile private var active: StreamingQuery = _
  @volatile private var restartCount = 0

  /** Build and start the join on the model's current snapshot; the snapshot
    * is pinned as the drift baseline until the next restart. */
  def start(): StreamingQuery = synchronized {
    require(active == null || !active.isActive,
      "orchestrated query is already running")
    pinned = hotness.replication(SparkSession.active)
    active = startQuery()
    active
  }

  /** The query currently serving (changes identity across restarts). */
  def activeQuery: StreamingQuery = active

  /** Number of automated restarts performed so far. */
  def restarts: Int = restartCount

  /** Monitor hook: fold the batch into the model, then count the batch's
    * distinct keys whose replication under the refreshed model differs from
    * the pinned (query-visible) snapshot; restart when the count reaches
    * `driftThreshold`. Before [[start]] there is no query to re-plan, so the
    * hook only folds: the first start builds on everything folded so far. */
  private[streaming] def observeAndMaybeRestart(batch: DataFrame): Unit = {
    hotness.observe(batch)
    if (active == null) return
    val spark = batch.sparkSession
    val newRep = hotness.replication(spark)
    val drifted = batch.select(hotness.usingColumns.map(col): _*).distinct()
      .filter(pinned =!= newRep).count()
    if (drifted >= driftThreshold) synchronized {
      val q = active
      if (q != null && q.isActive) q.stop()
      restartCount += 1
      pinned = hotness.replication(spark)
      active = startQuery()
    }
  }

  /** [[RefreshableHotness.attachMonitor]] with the restart hook wired in:
    * the same monitor query ([[RefreshableHotness.monitor]]), same
    * checkpoint contract (pass one so a restarted monitor folds each event
    * exactly once). A monitor attached before [[start]] only folds. */
  def attachMonitor(
      stream: DataFrame, checkpoint: Option[String] = None): StreamingQuery =
    hotness.monitor(stream, checkpoint)(observeAndMaybeRestart)

  /** Stop the active query (the monitor is owned by the caller). */
  def stop(): Unit = synchronized {
    if (active != null && active.isActive) active.stop()
  }
}
