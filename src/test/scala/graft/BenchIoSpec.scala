package graft

import java.util.Properties

import org.apache.spark.scheduler.{JobSucceeded, SparkListenerJobEnd, SparkListenerJobStart, StageInfo}
import org.apache.spark.sql.graftshim.Bridge
import org.scalatest.funsuite.AnyFunSuite

import graft.QueryIoListener.JobRecord

/** Bench's per-query byte attribution must be EXACT under stage retries
  * (r17, VERDICT task 4). The r16 accounting aggregated per stage with
  * last-attempt-wins, which undercounted PARTIAL retries (a stage whose
  * attempt 2 re-runs only the missing tasks reported only those tasks'
  * bytes); [[QueryIoListener]] sums at task grain instead, which is exact
  * regardless of attempt structure. Retries can't be forced
  * deterministically on a healthy local cluster, so the spec replays the
  * listener-event sequences a retry produces (via the shim — TaskMetrics
  * mutators are private[spark]). */
class BenchIoSpec extends AnyFunSuite {

  private val G = "graftbench:q#1"

  test("partial stage retry: attempt-2 tasks ADD to attempt-1's — no undercount") {
    val lis = new QueryIoListener
    lis.registerStage(7, G)
    // attempt 0: 4 of 6 tasks complete with metrics (100r/10w each); the
    // other 2 die to a fetch failure before reporting
    (1 to 4).foreach(_ => lis.onTaskEnd(Bridge.taskEndEvent(7, 0, 100, 10, 0)))
    // attempt 1 (partial): exactly the 2 missing tasks re-run
    (1 to 2).foreach(_ => lis.onTaskEnd(Bridge.taskEndEvent(7, 1, 100, 10, 0)))
    // exact: 6 tasks' bytes. The r16 last-attempt-wins stage accounting
    // reported only attempt 1's aggregate here — (200, 20, 0), biased LOW.
    assert(lis.ioForGroup(G) == ((600L, 60L, 0L)))
  }

  test("full stage re-run counts both attempts: bytes actually moved") {
    val lis = new QueryIoListener
    lis.registerStage(3, G)
    (1 to 3).foreach(_ => lis.onTaskEnd(Bridge.taskEndEvent(3, 0, 50, 5, 1)))
    (1 to 3).foreach(_ => lis.onTaskEnd(Bridge.taskEndEvent(3, 1, 50, 5, 1)))
    assert(lis.ioForGroup(G) == ((300L, 30L, 6L)))
  }

  test("retry-free run is unchanged vs per-stage aggregation; foreign stages ignored") {
    val lis = new QueryIoListener
    lis.registerStage(1, G)
    lis.registerStage(2, "graftbench:other#1")
    (1 to 5).foreach(_ => lis.onTaskEnd(Bridge.taskEndEvent(1, 0, 7, 3, 0)))
    lis.onTaskEnd(Bridge.taskEndEvent(2, 0, 1000, 1000, 1000))
    // a stage never registered to any group (sweep jobs, warm-up) is dropped
    lis.onTaskEnd(Bridge.taskEndEvent(99, 0, 1000, 1000, 1000))
    assert(lis.ioForGroup(G) == ((35L, 15L, 0L)))
    assert(lis.ioForGroup("graftbench:other#1") == ((1000L, 1000L, 1000L)))
    assert(lis.ioForGroup("graftbench:absent#1") == ((0L, 0L, 0L)))
  }

  test("per-job records: a job in a graftbench group keeps times, stages, call site; others leave no trace") {
    val lis = new QueryIoListener
    def stage(id: Int, name: String) =
      new StageInfo(id, 0, name, 1, Seq.empty, Seq.empty, "", resourceProfileId = 0)
    def props(group: Option[String]) = {
      val p = new Properties
      group.foreach(p.setProperty("spark.jobGroup.id", _))
      p
    }
    // the result stage (highest id) carries the job's call site
    lis.onJobStart(SparkListenerJobStart(5, 1000L,
      Seq(stage(11, "count at Bench.scala:60"), stage(10, "parquet at SparkEntry.scala:19\nplan detail")),
      props(Some(G))))
    lis.onJobStart(SparkListenerJobStart(6, 1100L, Seq(stage(12, "sweep")), props(None)))
    lis.onJobStart(SparkListenerJobStart(7, 1200L, Seq(stage(13, "other")), props(Some("cc-job-budget"))))
    Seq(5 -> 1750L, 6 -> 1150L, 7 -> 1300L).foreach { case (id, t) =>
      lis.onJobEnd(SparkListenerJobEnd(id, t, JobSucceeded)) }
    lis.onTaskEnd(Bridge.taskEndEvent(12, 0, 9, 9, 9))
    assert(lis.jobsForGroup(G) == Seq(JobRecord(5, G, 1000L, 1750L, 2,
      "count at Bench.scala:60", "parquet at SparkEntry.scala:19")))
    assert(lis.planCounts(G) == ((1, 2)))
    assert(lis.jobsForGroup(null).isEmpty && lis.jobsForGroup("cc-job-budget").isEmpty)
    assert(lis.planCounts("cc-job-budget") == ((0, 0)))
    assert(lis.ioForGroup(G) == ((0L, 0L, 0L)))
  }
}
