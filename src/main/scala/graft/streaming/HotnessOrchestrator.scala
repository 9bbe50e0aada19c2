package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.util.sketch.CountMinSketch

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

  @volatile private var pinned: CountMinSketch = _
  @volatile private var active: StreamingQuery = _
  @volatile private var restartCount = 0

  /** Build and start the join on the model's current snapshot; the snapshot
    * is pinned as the drift baseline until the next restart. */
  def start(): StreamingQuery = synchronized {
    require(active == null || !active.isActive,
      "orchestrated query is already running")
    pinned = hotness.snapshot
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
    * `driftThreshold`. */
  private[streaming] def observeAndMaybeRestart(batch: DataFrame): Unit = {
    hotness.observe(batch)
    val spark = batch.sparkSession
    val cols = hotness.usingColumns
    val oldRep = graft.skew.SkewJoin.replicationCol(
      spark, pinned, cols, hotness.conf)
    val newRep = hotness.replication(spark)
    val drifted = batch.select(cols.map(col): _*).distinct()
      .select(when(oldRep =!= newRep, 1L).otherwise(0L).as("__graft_drift"))
      .agg(coalesce(sum("__graft_drift"), lit(0L)).as("n"))
      .head().getLong(0)
    if (drifted >= driftThreshold) synchronized {
      val q = active
      if (q != null && q.isActive) q.stop()
      restartCount += 1
      pinned = hotness.snapshot
      active = startQuery()
    }
  }

  /** [[RefreshableHotness.attachMonitor]] with the restart hook wired in:
    * same key-column-only side query, same checkpoint contract (pass one so
    * a restarted monitor folds each event exactly once). */
  def attachMonitor(
      stream: DataFrame, checkpoint: Option[String] = None): StreamingQuery = {
    val w = stream.select(hotness.usingColumns.map(col): _*).writeStream
      .outputMode("append")
      .foreachBatch { (b: DataFrame, _: Long) => observeAndMaybeRestart(b) }
    checkpoint.fold(w)(c => w.option("checkpointLocation", c)).start()
  }

  /** Stop the active query (the monitor is owned by the caller). */
  def stop(): Unit = synchronized {
    if (active != null && active.isActive) active.stop()
  }
}
