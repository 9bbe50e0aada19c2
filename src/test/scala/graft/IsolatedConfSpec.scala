package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Bridge
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{ConnectedComponents, PageRank}
import graft.sources.Isolated

/** Operators that plan some of their work with AQE off do it in a private
  * clone of the session ([[Isolated.withConf]]), never by writing the
  * caller's conf. The witness is an optimizer rule registered on the
  * caller: rules run synchronously while a query is planned and clones
  * inherit them, so each planning pass — in the caller or in any clone —
  * records what the CALLER's conf holds at that moment. */
class IsolatedConfSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** Runs `f` on a temp directory holding the tables `write` puts there. */
  private def withTables(write: String => Unit)(f: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft_isolated")
    try { write(dir.toString); f(dir.toString) }
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  /** 2 000 events over 50 users, in the events fixture's columns. */
  private def writeEvents(dir: String): Unit =
    spark.range(0, 2000, 1, 1).select(
        col("id").as("event_id"),
        timestamp_seconds(col("id") * 3600 + 1704067200L).as("ts"),
        (col("id") % 50).as("user_id"),
        element_at(array(lit("view"), lit("click"), lit("purchase")),
          (col("id") % 3 + 1).cast("int")).as("event_type"),
        (col("id") % 7 + 0.5).as("value"),
        lit("{}").as("props"))
      .write.parquet(s"$dir/events.parquet")

  /** 300 documents in 30 groups of near-identical texts, so the LSH pass
    * finds pairs. */
  private def writeDocuments(dir: String): Unit =
    spark.range(0, 300, 1, 1).select(col("id").as("doc_id"),
        concat(lit("shared words about topic "), (col("id") % 30).cast("string"),
          lit(" repeated across the near duplicate documents of one group "),
          (col("id") % 30).cast("string"), lit(" variant "), (col("id") % 2).cast("string"))
          .as("text"))
      .write.parquet(s"$dir/documents.parquet")

  private val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions",
    "spark.sql.autoBroadcastJoinThreshold")

  /** Runs `op` on a fresh clone of the test session (so the rule stays off
    * the shared one) and checks every planning pass saw the caller's conf
    * as it was before `op`. */
  private def callerConfUntouched(op: SparkSession => DataFrame): Unit = {
    val caller = Bridge.cloneSession(spark)
    val want = keys.map(caller.conf.get)
    val seen = new ConcurrentLinkedQueue[Seq[String]]()
    caller.experimental.extraOptimizations = Seq(new Rule[LogicalPlan] {
      def apply(plan: LogicalPlan): LogicalPlan = { seen.add(keys.map(caller.conf.get)); plan }
    })
    op(caller).collect()
    val views = seen.asScala.toSeq
    assert(views.nonEmpty, "the witness rule never ran")
    val wrong = views.filter(_ != want).distinct
    assert(wrong.isEmpty, s"planned while the caller's conf read $wrong, not $want")
    assert(keys.map(caller.conf.get) == want)
  }

  private def ring(s: SparkSession): DataFrame =
    s.range(0, 30).select(col("id").as("src"), ((col("id") + 1) % 30).as("dst"))

  test("connectedComponents plans its star rounds without writing the caller's conf") {
    callerConfUntouched(s => ConnectedComponents.connectedComponents(
      s.range(0, 40).select(col("id").as("id_a"), (col("id") + 1).as("id_b"))))
  }

  test("pageRankInt plans its iterations without writing the caller's conf") {
    callerConfUntouched(s => PageRank.pageRankInt(ring(s), "src", "dst"))
  }

  test("personalizedPageRankInt plans its iterations without writing the caller's conf") {
    callerConfUntouched(s => PageRank.personalizedPageRankInt(
      ring(s), "src", "dst", s.range(0, 3).toDF("seed"), "seed"))
  }

  test("events_rfm runs its ntile passes without writing the caller's conf") {
    withTables(writeEvents)(dir =>
      callerConfUntouched(s => SparkEntry.queries("events_rfm")(s, dir)))
  }

  test("dedup_groups_incremental runs its LSH pass without writing the caller's conf") {
    withTables(writeDocuments)(dir =>
      callerConfUntouched(s => SparkEntry.queries("dedup_groups_incremental")(s, dir)))
  }

  test("withConf plans the body under the overrides and returns a frame bound to the caller") {
    val caller = Bridge.cloneSession(spark)
    var inside = ""
    val out = Isolated.withConf(Seq(caller.range(0, 10).toDF()),
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> "3") { case (clone, Seq(in)) =>
      inside = clone.conf.get("spark.sql.shuffle.partitions")
      assert(in.sparkSession eq clone)
      in.groupBy(col("id") % 2).count().localCheckpoint()
    }
    assert(inside == "3")
    assert(out.rdd.getNumPartitions == 3)
    assert(out.sparkSession eq caller)
    assert(caller.conf.get("spark.sql.shuffle.partitions") == "8")
    assert(out.agg(sum("count")).head().getLong(0) == 10L)
  }
}
