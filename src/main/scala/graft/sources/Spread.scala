package graft.sources

import org.apache.spark.sql.{Column, Dataset}

/** Adaptive read-side parallelism repair (optimization guide §2.5, "input
  * skew: one huge unsplittable file … repartition immediately after the
  * read").
  *
  * Heavy per-row compute placed directly above a scan inherits the SCAN's
  * parallelism, which is a property of the file layout, not of the work: a
  * single-row-group parquet file is one split however small
  * `maxPartitionBytes` goes, so a 32-core session runs the whole
  * decode/shingle/score stage in ONE task (measured r18: knn_graph spent
  * 6.3 of its 6.7 s in a 1-task stage; every multimodal decode query ran
  * its codec serially).
  *
  * [[spread]] round-robin-repartitions ONLY when the planned scan
  * parallelism is materially below the session's core count, so
  * well-partitioned inputs — the 100-TB case, where a scan has thousands
  * of splits — pass through with no added exchange. Call it on the
  * NARROW frame (ids, or ids + small payload) feeding the heavy stage, so
  * the added exchange, when it does fire, ships the lightweight proxy and
  * never the decoded/derived payload (guide §2.3). Round-robin
  * repartition is deterministic under Spark's sort-before-repartition
  * default, and every caller's result is partition-layout-independent
  * (per-row maps + aggregates), so results are unchanged by construction.
  */
object Spread {
  def spread[T](ds: Dataset[T]): Dataset[T] = {
    val target = ds.sparkSession.sparkContext.defaultParallelism
    // .rdd only plans (no job); planned partition count is the scan split
    // count for read-rooted frames — exactly the parallelism the stage
    // above would inherit
    if (ds.rdd.getNumPartitions * 2 <= target) ds.repartition(target) else ds
  }

  /** Pin the parallelism of a CPU-dense, low-byte frame (optimization guide
    * §2.1/§2.5 — AQE's partition coalescing targets BYTES and is blind to
    * downstream CPU cost).
    *
    * The candidate-pair frames of the similarity-verification joins carry
    * ~16 bytes/row but feed per-row set-merge work thousands of times more
    * expensive than the shuffle itself, so byte-targeted coalescing
    * legally collapses the verify stage to 1-2 tasks on a 32-core session
    * (measured r18; a session-wide `minPartitionSize` floor fixed it but
    * taxed every iterative loop in the suite — r19 moves the fix here).
    * An EXPLICIT partition count plans a REPARTITION_BY_NUM shuffle, which
    * `CoalesceShufflePartitions` never touches, so the verify stage runs
    * at cluster parallelism under any AQE config. The count is
    * `defaultParallelism` (total cluster cores) — scale-adaptive by
    * construction, never a local constant. Keyed (hash) when `keys` are
    * given so the exchange doubles as the join-side distribution and
    * avoids round-robin's sort-before-repartition pass. */
  def pinParallel[T](ds: Dataset[T], keys: Column*): Dataset[T] = {
    val n = ds.sparkSession.sparkContext.defaultParallelism
    if (keys.isEmpty) ds.repartition(n) else ds.repartition(n, keys: _*)
  }
}
