package graft

import org.apache.spark.sql.execution.{ReusedSubqueryExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.graftshim.Bridge

/** Optimization-round diagnostic: run queries in Bench's session
  * ([[Harness.session]], same warm-up, job groups, listener and sweep, so
  * a profile explains the bench it sits next to) and attribute each pass's
  * wall time to its Spark jobs — job id, duration, stage count, call site
  * and parent stages' names — so a 10-second query's seconds map to pipeline
  * phases. `GRAFT_PROFILE_METRICS=1` also prints the last pass's final
  * adaptive executed plan and its heavy SQL metrics (the tool that
  * separates "AQE exchange-reuse race" from "join strategy flip" when a
  * fingerprint moves).
  *
  * Usage: `sbt "Test/runMain graft.QueryProfile <query>[,<query>...] [iters]"`
  * (env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS as for Bench;
  * GRAFT_PROFILE_CONF=k=v;k=v adds session confs for A/B runs)
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val iters = args.lift(1).map(_.toInt).getOrElse(2)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val extra = sys.env.get("GRAFT_PROFILE_CONF").toSeq
      .flatMap(_.split(";").filter(_.contains("=")))
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }
    val spark = Harness.session(extra: _*)
    val queries = names.map(n => n -> SparkEntry.queries(n))
    Harness.warmUp(spark, queries)
    val listener = new QueryIoListener
    spark.sparkContext.addSparkListener(listener)

    def dumpPlanMetrics(p: SparkPlan, depth: Int): Unit = {
      val finals = p match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }
      val interesting = finals.metrics.toSeq.filter { case (_, m) =>
        (m.metricType == "timing" && m.value > 200) ||
          (m.metricType == "nsTiming" && m.value > 2e8) ||
          (m.name.exists(_.contains("rows")) && m.value > 100000)
      }.map { case (k, m) =>
        val v = if (m.metricType == "nsTiming") f"${m.value / 1e9}%.2fs"
          else if (m.metricType == "timing") f"${m.value / 1e3}%.2fs" else m.value.toString
        s"$k=$v"
      }
      if (interesting.nonEmpty)
        println("    " + ("  " * depth) + finals.nodeName + "  " + interesting.mkString(" "))
      finals.children.foreach(dumpPlanMetrics(_, depth + 1))
      finals match {
        case q: QueryStageExec => dumpPlanMetrics(q.plan, depth + 1)
        case _: ReusedSubqueryExec => ()
        case _ => finals.subqueries.foreach(dumpPlanMetrics(_, depth + 1))
      }
    }

    queries.foreach { case (name, fn) =>
      (1 to iters).foreach { it =>
        val group = s"graftbench:$name#$it"
        val t0 = System.nanoTime()
        spark.sparkContext.setJobGroup(group, name)
        // the plan Dataset.count() runs, kept so its executed plan can be read
        val counted = try {
          val c = fn(spark, dir).groupBy().count()
          c.collect()
          c
        } finally spark.sparkContext.clearJobGroup()
        val dt = (System.nanoTime() - t0) / 1e9
        Bridge.drainListeners(spark.sparkContext)
        val js = listener.jobsForGroup(group)
        val sum = js.map(j => (j.end - j.start).max(0L)).sum / 1e3
        val (r, w, sp) = listener.ioForGroup(group)
        println(f"== $name pass $it: wall $dt%.2f s, ${js.length} jobs, " +
          f"${js.map(_.stages).sum} stages (job time sum $sum%.2f s, gap ${dt - sum}%.2f s), " +
          s"shuffle read/write/spill $r/$w/$sp bytes")
        js.foreach { j =>
          val d = (j.end - j.start).max(0L) / 1e3
          val parents = if (j.stageNames.isEmpty) "" else s"  <- ${j.stageNames}"
          println(f"  job ${j.id}%4d $d%6.2f s stages=${j.stages}%2d  ${j.callSite}$parents")
        }
        if (it == iters && sys.env.get("GRAFT_PROFILE_METRICS").contains("1")) {
          println(counted.queryExecution.executedPlan.toString.take(8000))
          dumpPlanMetrics(counted.queryExecution.executedPlan, 0)
        }
        Harness.sweep(spark)
      }
    }
    spark.stop()
  }
}
