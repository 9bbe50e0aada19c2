package graft

import org.apache.spark.sql.SparkSession

/** Session configs under which a range exchange read by two consumer stages
  * can desync: AQE coalescing configs that rewrite the exchange's reads per
  * stage, and AQE off (no stage reuse at all). The range-partitioned prefix
  * scans (GroupedRankSpec, RunningExtremumSpec) sweep every entry. */
object HostileAqe {
  private val aqeOn = "spark.sql.adaptive.enabled" -> "true"

  val configs: Seq[Seq[(String, String)]] = Seq(
    Seq(aqeOn, // the exact r18 bench/verify session config
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "16k"),
    Seq(aqeOn, // maximally aggressive coalescing: everything into one partition
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1g",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1g"),
    Seq(aqeOn, // keep every near-empty partition alive
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1k",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1k"),
    Seq("spark.sql.adaptive.enabled" -> "false"))

  /** Runs `body` with `confs` set on `spark`, then restores the previous
    * values (unsetting keys that had none). */
  def withConfs[A](spark: SparkSession, confs: Seq[(String, String)])(body: => A): A = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
