package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftshim.Bridge

/** Work planned under other SQL confs (the iterative operators' AQE-off
  * rounds) without writing the caller's session conf, which every other
  * query on that session would otherwise be planned under meanwhile. */
object Isolated {

  /** Runs `body` in a clone of the inputs' session (shared SparkContext,
    * cache and extensions; its own conf) with `overrides` set, and returns
    * its result bound to the caller's session again. `body` gets the clone,
    * on which it may set further confs, and `inputs` re-bound into it.
    * Work applied to the result plans under the caller's conf, so return a
    * checkpointed frame when the overrides must cover its computation. */
  def withConf(inputs: Seq[DataFrame], overrides: (String, String)*)(
      body: (SparkSession, Seq[DataFrame]) => DataFrame): DataFrame = {
    val caller = inputs.head.sparkSession
    val clone = Bridge.cloneSession(caller)
    overrides.foreach { case (k, v) => clone.conf.set(k, v) }
    val out = body(clone, inputs.map(in => Bridge.ofRows(clone, in.queryExecution.analyzed)))
    Bridge.ofRows(caller, out.queryExecution.analyzed)
  }
}
