package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

/** Per-query Spark accounting for [[Bench]] and `QueryProfile` — plan
  * fingerprints, IO bytes and per-job records, keyed by the
  * `graftbench:<query>#<iter>` job group. Jobs outside such a group
  * (warm-up, sweeps) are not recorded.
  *
  * Jobs/stages (VERDICT r13 task 3) fingerprint plan SHAPE: wall time on
  * the driver host is noisy (documented 3-4× family drift with zero code
  * change), but job and stage counts are deterministic plan properties —
  * a wall-time move with unchanged counts is environment, a moved count
  * is a plan change.
  *
  * Shuffle/spill BYTES (VERDICT r14 task 6, made exact r17 task 4) are
  * accumulated at TASK grain (`onTaskEnd`), attributed to the owning
  * query through a stageId → job-group map built at job start. Task-level
  * sums are EXACT under every attempt structure: a partial stage retry
  * adds exactly the re-run tasks' bytes, a full re-run adds both
  * attempts' (bytes actually moved — the 100-TB cost being measured).
  * The r16 design aggregated per STAGE with last-attempt-wins, which
  * undercounted partial retries (only attempt-2 task metrics survived);
  * that approximation is gone. Stages skipped via exchange reuse run no
  * tasks, so reused shuffles still count once — same property as before.
  */
final class QueryIoListener extends SparkListener {
  import QueryIoListener.JobRecord

  private val jobs = new ConcurrentHashMap[Integer, JobRecord]()
  private val stageGroup = new ConcurrentHashMap[Integer, String]()
  private val groupIo = new ConcurrentHashMap[String, (Long, Long, Long)]()

  /** Test seam: pre-register a stage→group mapping so a spec can replay
    * synthesized task-end sequences (retry shapes are hard to force
    * deterministically on a healthy local cluster). */
  private[graft] def registerStage(stageId: Int, group: String): Unit =
    stageGroup.put(stageId, group)

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val g = Option(js.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null && g.startsWith("graftbench:")) {
      // Spark names a job's result stage (its highest id) after the job's
      // call site; the parent stages are named after the RDDs they build
      val names = js.stageInfos.sortBy(_.stageId).map(_.name.takeWhile(_ != '\n'))
      jobs.put(js.jobId, JobRecord(js.jobId, g, js.time, 0L, js.stageInfos.size,
        names.lastOption.getOrElse(""), names.dropRight(1).mkString(" | ").take(140)))
      js.stageInfos.foreach(si => stageGroup.put(si.stageId, g))
    }
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit =
    jobs.computeIfPresent(je.jobId, (_, j) => j.copy(end = je.time))

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(te.stageId)
    val tm = te.taskMetrics
    if (g != null && tm != null)
      groupIo.merge(g,
        (tm.shuffleReadMetrics.totalBytesRead,
          tm.shuffleWriteMetrics.bytesWritten,
          tm.memoryBytesSpilled + tm.diskBytesSpilled),
        (a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))
  }

  /** The jobs one job group ran, in job-id order. */
  def jobsForGroup(g: String): Seq[JobRecord] =
    jobs.values.asScala.filter(_.group == g).toSeq.sortBy(_.id)

  /** (jobs, stages) for one job group — the plan fingerprint. */
  def planCounts(g: String): (Int, Int) = {
    val js = jobsForGroup(g)
    (js.size, js.map(_.stages).sum)
  }

  /** (shuffle_read, shuffle_write, spill) bytes for one job group. */
  def ioForGroup(g: String): (Long, Long, Long) =
    groupIo.getOrDefault(g, (0L, 0L, 0L))
}

object QueryIoListener {
  /** One job of a bench query: listener-bus start/end times in epoch ms
    * (`end` is 0 until the job ends), stage count, the call site that
    * launched it, and its parent stages' names. */
  final case class JobRecord(id: Int, group: String, start: Long, end: Long,
      stages: Int, callSite: String, stageNames: String)
}
