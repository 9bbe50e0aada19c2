package perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.SparkShim
import org.apache.spark.scheduler._

/** The benchmark's own run ledger: a SparkListener that files every job,
  * stage and task under the job group of the op that ran it. Groups are
  * `perfbench:<workload>:<op>#<iteration>`, one per op, in the manner of
  * the library's `QueryIoListener`. It is attached only in traced runs. */
final class Ledger extends SparkListener {
  import Ledger._

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.LinkedHashMap.empty[Int, StageRec]

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    val g = Option(js.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null && g.startsWith(GroupPrefix)) {
      jobs(js.jobId) = JobRec(js.jobId, g, js.time, js.stageInfos.map(_.stageId))
      // a stage belongs to the first job that lists it
      js.stageInfos.foreach { si =>
        if (!stages.contains(si.stageId))
          stages(si.stageId) = StageRec(si.stageId, g, js.jobId, si.name,
            si.parentIds, SparkShim.shuffleDepId(si))
      }
    }
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(je.jobId).foreach(_.endMs = je.time)
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(te.stageId).foreach(_.add(te))
  }

  def jobsOf(group: String): Seq[JobRec] = synchronized {
    jobs.values.filter(_.group == group).toSeq
  }

  def stagesOf(group: String): Seq[StageRec] = synchronized {
    stages.values.filter(_.group == group).toSeq
  }

  /** Everything the ledger knows about one op. */
  def summary(group: String): OpIo = synchronized {
    val js = jobsOf(group)
    val ss = stagesOf(group)
    OpIo(
      jobs = js.size,
      stages = js.map(_.stageIds.size).sum,
      tasks = ss.map(_.tasks).sum,
      runS = ss.map(_.runMs).sum / 1e3,
      cpuS = ss.map(_.cpuNs).sum / 1e9,
      gcS = ss.map(_.gcMs).sum / 1e3,
      fetchWaitS = ss.map(_.fetchWaitMs).sum / 1e3,
      readBytes = ss.map(_.readBytes).sum,
      writeBytes = ss.map(_.writeBytes).sum,
      spillBytes = ss.map(_.spillBytes).sum,
      taskSkewMax = ss.flatMap(_.taskSkew).foldLeft(1.0)(math.max),
      busyMs = ss.flatMap(_.intervals).map { case (a, b) => (a.toDouble, b.toDouble) })
  }

  /** Records written into the given shuffles by their map stages. */
  def recordsWritten(group: String, shuffleIds: Set[Int]): Long = synchronized {
    stagesOf(group).filter(_.shuffleDep.exists(shuffleIds)).map(_.writeRecords).sum
  }

  /** The stage that reads the given shuffles: the one that ran tasks and
    * whose parents write all of them. A later job lists an already written
    * shuffle under a new, skipped stage id, so parents match by shuffle. */
  def readerOf(group: String, shuffleIds: Set[Int]): Option[StageRec] = synchronized {
    val ss = stagesOf(group)
    val writes = ss.flatMap(s => s.shuffleDep.map(s.stageId -> _)).toMap
    if (shuffleIds.isEmpty) None
    else ss.find(s => s.tasks > 0 && shuffleIds.subsetOf(s.parentIds.flatMap(writes.get).toSet))
  }
}

object Ledger {
  val GroupPrefix = "perfbench:"

  /** Stages whose slowest task is shorter than this are left out of the
    * max/median task-time ratio: a 3 ms task next to 1 ms ones is noise. */
  val SkewMinTaskMs = 100L

  final case class JobRec(jobId: Int, group: String, startMs: Long, stageIds: Seq[Int]) {
    var endMs: Long = -1L
  }

  final case class StageRec(stageId: Int, group: String, jobId: Int, name: String,
      parentIds: Seq[Int], shuffleDep: Option[Int]) {
    var tasks = 0
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var fetchWaitMs = 0L
    var readBytes = 0L
    var writeBytes = 0L
    var writeRecords = 0L
    var spillBytes = 0L
    val durationsMs = mutable.ArrayBuffer.empty[Long]
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

    def add(te: SparkListenerTaskEnd): Unit = {
      tasks += 1
      val ti = te.taskInfo
      if (ti != null) {
        durationsMs += ti.duration
        intervals += ((ti.launchTime, ti.finishTime))
      }
      val tm = te.taskMetrics
      if (tm != null) {
        runMs += tm.executorRunTime
        cpuNs += tm.executorCpuTime
        gcMs += tm.jvmGCTime
        fetchWaitMs += tm.shuffleReadMetrics.fetchWaitTime
        readBytes += tm.shuffleReadMetrics.totalBytesRead
        writeBytes += tm.shuffleWriteMetrics.bytesWritten
        writeRecords += tm.shuffleWriteMetrics.recordsWritten
        spillBytes += tm.memoryBytesSpilled + tm.diskBytesSpilled
      }
    }

    /** max / median task time, for a stage of two or more tasks. */
    def maxOverMedian: Option[Double] =
      if (durationsMs.size < 2) None
      else Some(durationsMs.max / math.max(Stats.median(durationsMs.map(_.toDouble).toSeq), 1.0))

    /** [[maxOverMedian]] where the slowest task runs at least [[SkewMinTaskMs]]. */
    def taskSkew: Option[Double] =
      if (durationsMs.isEmpty || durationsMs.max < SkewMinTaskMs) None else maxOverMedian
  }

  final case class OpIo(jobs: Int, stages: Int, tasks: Int, runS: Double,
      cpuS: Double, gcS: Double, fetchWaitS: Double, readBytes: Long,
      writeBytes: Long, spillBytes: Long, taskSkewMax: Double,
      busyMs: Seq[(Double, Double)])

  /** Total length of the union of `intervals`, clipped to [from, to]. */
  def coveredMs(intervals: Seq[(Double, Double)], from: Double, to: Double): Double = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}
