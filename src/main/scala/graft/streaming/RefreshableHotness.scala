package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.util.sketch.CountMinSketch

import graft.sketch.CmsOps
import graft.skew.{SkewJoin, SkewJoinConf}

/** Refreshable hotness model for streaming skew mitigation.
  *
  * [[StreamOps.skewedIntervalJoin]] takes its hot-key sketch from a STATIC
  * historical sample, so a key that becomes hot only mid-stream stays
  * unsalted for the life of the query — the staleness bound round 7's
  * review called out. This class closes the loop: a Count-Min sketch is
  * seeded from the historical sample and then FOLDED FORWARD per
  * micro-batch by a `foreachBatch` monitor over the live stream
  * ([[attachMonitor]]), so the model tracks the union of everything seen.
  * Without a sample the model starts empty and replicates nothing until
  * its first fold. Every sketch comes from [[graft.skew.SkewJoin.sketches]].
  *
  * Merge mechanics: Spark's `CountMinSketch` is a monoid — sketches built
  * with the same (eps, delta, seed) merge exactly (`mergeInPlace`), so each
  * micro-batch costs one sketch-sized aggregate plus a driver-side
  * merge-in-place; the corpus is never re-scanned. The driver holds only
  * the sketch — width×depth longs, a pure function of (eps, delta): KBs at
  * the batch-join defaults, ~4 MB at eps = 1e-4 — never a key list.
  *
  * Refresh semantics — the honest streaming constraint: a running query's
  * replication column probes an immutable broadcast snapshot, so a refresh
  * takes effect at the next query (re)start, not mid-query. The residual
  * staleness bound is therefore one restart cycle: a key hot only in data
  * newer than the last `observe` stays unsalted until the join restarts
  * (production: periodic restart from source-replayable offsets, the
  * standard re-plan pattern for streaming joins — changing a running
  * stream-stream join's salt space would orphan rows buffered under the old
  * fragmentation). StreamSpec pins both halves: the pre-refresh bound and
  * the post-refresh salting. [[HotnessOrchestrator]] automates the restart
  * itself: its monitor measures hot-set drift against the running query's
  * pinned snapshot and re-plans from checkpointed offsets when it crosses
  * the threshold.
  */
final class RefreshableHotness(
    val usingColumns: Seq[String],
    val conf: SkewJoinConf = SkewJoinConf(),
    initialSample: Option[DataFrame] = None) {

  // None until a sample or a batch is folded in
  private var sketch: Option[CountMinSketch] =
    SkewJoin.sketches(initialSample.toSeq, usingColumns, conf).headOption

  /** Fold one micro-batch (or any sample frame) into the model: one
    * aggregate job over the batch, one sketch merge on the driver. The
    * batch sketch merges INTO the master in place — the master is never
    * handed out (every [[snapshot]] copies), so no running query can
    * observe the mutation, and a refresh costs zero master-sized copies
    * (the sketch is width×depth longs: KBs at the default eps, ~4 MB at
    * eps = 1e-4 — copying it per batch would dominate the monitor). */
  def observe(batch: DataFrame): Unit = {
    val b = SkewJoin.sketches(Seq(batch), usingColumns, conf).head
    synchronized { sketch = Some(sketch.fold(b)(_.mergeInPlace(b))) }
  }

  /** Immutable snapshot of the current sketch (safe to broadcast — the
    * master keeps mutating underneath); None until something is folded in. */
  def snapshot: Option[CountMinSketch] =
    synchronized { sketch.map(s => CmsOps.fromBytes(s.toByteArray)) }

  /** Per-row replication column from the CURRENT snapshot (same debiased
    * formula as the batch skew join). Sampled when the query plan is built:
    * later `observe` calls do not affect a running query (see class doc).
    * Each call broadcasts its snapshot; the broadcast lives as long as the
    * query plan referencing it and is reclaimed by Spark's ContextCleaner
    * once the plan is dropped — superseded snapshots are NOT destroyed
    * eagerly here, because an older still-running query may hold one. An
    * empty model replicates nothing. */
  def replication(spark: SparkSession): Column =
    snapshot.fold(lit(1))(SkewJoin.replicationCol(spark, _, usingColumns, conf))

  /** Start the monitor: a lightweight side query that folds every
    * micro-batch of `stream` into the model (see [[monitor]]).
    *
    * Pass `checkpoint` for any monitor that can restart on a live model:
    * without one, a restarted file-source monitor replays the source from
    * offset zero and re-folds already-counted history into the sketch —
    * frequencies inflate per restart cycle, and moderately-warm keys drift
    * across the hot threshold (replication stays CORRECT at any estimate,
    * but the join buffers salted state it never needed). With a checkpoint
    * the restarted monitor resumes from its committed offsets and each
    * event is folded exactly once. */
  def attachMonitor(stream: DataFrame, checkpoint: Option[String] = None): StreamingQuery =
    monitor(stream, checkpoint)(observe)

  /** The monitor query behind [[attachMonitor]] and
    * [[HotnessOrchestrator.attachMonitor]]: projects `stream` to the key
    * columns before the sink, so the monitor ships keys, not payloads, and
    * hands each micro-batch to `onBatch`. */
  private[streaming] def monitor(stream: DataFrame, checkpoint: Option[String])(
      onBatch: DataFrame => Unit): StreamingQuery = {
    val w = stream.select(usingColumns.map(col): _*).writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) => onBatch(batch) }
    checkpoint.fold(w)(c => w.option("checkpointLocation", c)).start()
  }
}
