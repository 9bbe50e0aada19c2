package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftshim.Bridge

/** The Spark session and between-query hygiene shared by every main that
  * runs the query surface ([[Bench]], [[Verify]], [[FuzzCheck]] and the
  * `QueryProfile`/`PlanDump` diagnostics). Oracle hashes and plan
  * fingerprints depend on these confs, so they live in one place: a main
  * that built its own session could drift from the one the bench measures.
  *
  * `SPARK_GRAFT_CPUS` (default 4) sets the local master's cores and the
  * shuffle partition count. */
object Harness {
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** The session's confs; `extra` pairs are appended (FuzzCheck writes its
    * generated corpus with TIMESTAMP_MICROS timestamps). AQE stays stock: a
    * session-wide `coalescePartitions.minPartitionSize` floor (r18) taxed
    * every iterative loop 1.3-1.7× and perturbed AQE layouts under
    * GroupedRank, so stage parallelism is pinned inside the operators that
    * need it (e.g. Dedup.lshVerifiedPairs). */
  private[graft] def conf(extra: (String, String)*): SparkConf = new SparkConf(false)
    .setMaster(s"local[$cpus]")
    .set("spark.sql.shuffle.partitions", cpus)
    .set("spark.ui.enabled", "false")
    .set("spark.sql.session.timeZone", "UTC")
    // events.parquet carries TIMESTAMP(NANOS); Spark 4 only reads it via
    // this legacy conf (as nanos-since-epoch longs — see SparkEntry.events)
    .set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // testdata tables are single parquet files; without this the scan side
    // of every query runs in 1-2 tasks regardless of core count
    .set("spark.sql.files.maxPartitionBytes", "4m")
    .setAll(extra)

  def session(extra: (String, String)*): SparkSession = {
    val spark = SparkSession.builder().config(conf(extra: _*)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Untimed warm-up: one pass of `queries` at the smallest scale factor
    * (`SPARK_GRAFT_WARMUP_DIR`, default sf0.001; empty skips it) compiles
    * and JITs every operator's codegen before anything is measured.
    * Without it the alphabetically first heavy query absorbs all JVM
    * warm-up (dedup_apply measured 38 s cold vs 11 s steady on identical
    * plans). Failures are ignored: the timed pass reports them. */
  def warmUp(spark: SparkSession,
      queries: Seq[(String, (SparkSession, String) => DataFrame)]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR", "/root/testdata/sf0.001")
    if (dir.nonEmpty)
      queries.foreach { case (_, fn) =>
        try fn(spark, dir).count() catch { case _: Throwable => () }
        sweep(spark)
      }
  }

  /** Run between queries, outside any timed region or job group.
    * Iterative operators (CC loops, k-means) localCheckpoint per round, and
    * superseded block sets have no owner to unpersist them: over hundreds
    * of passes the block manager accumulates thousands of orphaned block
    * sets, and the storage eviction and GC pressure tax exactly the
    * many-job iterative queries (r8: the dedup/CC family ran 7-11× over its
    * isolated times). Streaming state-store providers likewise accumulate
    * between 60 s maintenance ticks (r11: the streaming family drifted
    * 1.4-2.3× with no code change), so they are unloaded too. */
  def sweep(spark: SparkSession): Unit =
    try {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      Bridge.unloadStateStores()
    } catch { case _: Throwable => () }
}
