package perfbench

import org.apache.spark.sql.DataFrame

import Main.{OpRun, PassRun}

/** Per-layer metrics of a traced run, derived from the op timings, the
  * ledger and the executed plans. Additive quantities are summed over the
  * ops of one pass; each metric is the median over the traced passes. */
final class LayerReport(w: Workload, passes: Seq[PassRun], ledger: Ledger, nproc: Int) {

  private val traced = passes.filter(_.traced)
  private val untraced = passes.filterNot(_.traced)

  private final case class OpTrace(run: OpRun, io: Ledger.OpIo, phases: Map[String, Double],
      idleS: Double, joinShuffles: Set[Int]) {
    def module: String = run.op.module
    def joinType: Option[String] = run.op.joinType
    def joinRecords: Long = ledger.recordsWritten(run.group, joinShuffles)
    /** max / median task time of the stage that reads the join exchange. */
    def joinSkew: Option[Double] = ledger.readerOf(run.group, joinShuffles).flatMap(_.maxOverMedian)
  }

  private def phasesOf(df: Option[DataFrame]): Map[String, Double] =
    df.map(_.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs / 1e3 })
      .getOrElse(Map.empty)

  private val traces: Map[String, OpTrace] = traced.flatMap(_.ops).map { r =>
    val io = ledger.summary(r.group)
    val ph = Seq(phasesOf(r.callDf), phasesOf(r.fpFrame))
      .flatten.groupMapReduce(_._1)(_._2)(_ + _)
    val idle = (r.endMs - r.startMs - Ledger.coveredMs(io.busyMs, r.startMs, r.endMs)) / 1e3
    val shuffles = r.fpFrame.map(f => PlanProbe.joinShuffles(f.queryExecution.executedPlan))
      .getOrElse(Set.empty[Int])
    r.group -> OpTrace(r, io, ph, idle, shuffles)
  }.toMap

  private def perPass(f: Seq[OpTrace] => Double): Double =
    Stats.median(traced.map(p => f(p.ops.map(o => traces(o.group)))))

  private def sumOf(pick: OpTrace => Boolean)(v: OpTrace => Double): Double =
    perPass(_.filter(pick).map(v).sum)

  private val isSalting = (t: OpTrace) =>
    t.joinType.exists(jt => jt == "inner" || jt.endsWith("_outer"))

  /** The plain join's job group and join exchanges per join type. */
  private val plainRefs: Seq[(String, Double, String, Set[Int])] = w match {
    case s: SkewWorkload => s.plain.toSeq.map { case (jt, (wallS, fp)) =>
      (jt, wallS, s"${Ledger.GroupPrefix}${w.name}:plain_$jt#0",
        PlanProbe.joinShuffles(fp.queryExecution.executedPlan))
    }
    case _ => Nil
  }

  /** The plain join's exchange records and wall time per join type. */
  private val plain: Map[String, (Long, Double)] = plainRefs.map { case (jt, wallS, g, shuffles) =>
    jt -> (ledger.recordsWritten(g, shuffles), wallS)
  }.toMap

  private def skewMetrics: Seq[(String, Double, String, String)] = {
    val skewOp = (t: OpTrace) => t.module == "skew"
    val jt = (p: String => Boolean) => (t: OpTrace) => t.joinType.exists(p)
    val joinSkews = traces.values.filter(skewOp).flatMap(_.joinSkew).toSeq
    val copies =
      if (plain.isEmpty) Seq(("skew.rows_copied", 0.0, "count", "n/a: no plain reference"),
        ("skew.copy_ratio", 0.0, "ratio", "n/a: no plain reference"),
        ("skew.plain_ratio", 0.0, "ratio", "n/a: no plain reference"))
      else Seq(
        ("skew.rows_copied",
          sumOf(isSalting)(t => (t.joinRecords - plain(t.joinType.get)._1).toDouble), "count",
          "join-exchange records minus the plain join's, inner and outer ops, per pass"),
        ("skew.copy_ratio", perPass { ts =>
          val s = ts.filter(isSalting)
          s.map(_.joinRecords).sum.toDouble / s.map(t => plain(t.joinType.get)._1).sum
        }, "ratio", "join-exchange records over input rows, inner and outer ops"),
        ("skew.plain_ratio", perPass { ts =>
          ts.map(_.run.wallS).sum / ts.map(t => plain(t.joinType.get)._2).sum
        }, "ratio", "skewJoin op wall over Spark join + AQE wall, same inputs; reported only"))
    Seq(
      ("skew.sketch_s", sumOf(skewOp)(_.run.callS), "s", "inside the skewJoin call: CMS jobs and broadcast"),
      ("skew.exec_s", sumOf(skewOp)(_.run.actionS), "s", "consuming action of skew ops"),
      ("skew.inner_s", sumOf(jt(_ == "inner"))(_.run.wallS), "s", ""),
      ("skew.outer_s", sumOf(jt(_.endsWith("_outer")))(_.run.wallS), "s", ""),
      ("skew.semi_s", sumOf(jt(j => j == "left_semi" || j == "left_anti"))(_.run.wallS), "s", "")) ++
      copies :+
      ("skew.join_task_skew", if (joinSkews.isEmpty) 0.0 else Stats.median(joinSkews), "ratio",
        s"max/median task time of the join's reduce stage, median of ${joinSkews.size} ops")
  }

  private def moduleMetrics: Seq[(String, Double, String, String)] =
    Seq("llm", "operators", "streaming", "skew").flatMap { m =>
      Seq((s"$m.s", sumOf(_.module == m)(_.run.wallS), "s", s"op wall of $m queries per pass"),
        (s"$m.jobs", sumOf(_.module == m)(_.io.jobs.toDouble), "count", ""))
    }

  private def driverMetrics: Seq[(String, Double, String, String)] = {
    val any = (_: OpTrace) => true
    Seq(
      ("driver.plan_s", sumOf(any)(_.run.callS), "s", "until the layer call returns its DataFrame"),
      ("driver.analysis_s", sumOf(any)(_.phases.getOrElse("analysis", 0.0)), "s", ""),
      ("driver.optimization_s", sumOf(any)(_.phases.getOrElse("optimization", 0.0)), "s", ""),
      ("driver.planning_s", sumOf(any)(_.phases.getOrElse("planning", 0.0)), "s", ""),
      ("driver.idle_s", sumOf(any)(_.idleS), "s", "op wall with no task running"))
  }

  private def sparkMetrics: Seq[(String, Double, String, String)] = {
    val any = (_: OpTrace) => true
    Seq(
      ("spark.jobs", sumOf(any)(_.io.jobs.toDouble), "count", ""),
      ("spark.stages", sumOf(any)(_.io.stages.toDouble), "count", ""),
      ("spark.tasks", sumOf(any)(_.io.tasks.toDouble), "count", ""),
      ("spark.executor_run_s", sumOf(any)(_.io.runS), "s", ""),
      ("spark.executor_cpu_s", sumOf(any)(_.io.cpuS), "s", ""),
      ("spark.gc_s", sumOf(any)(_.io.gcS), "s", ""),
      ("spark.shuffle_fetch_wait_s", sumOf(any)(_.io.fetchWaitS), "s", ""),
      ("spark.shuffle_read_bytes", sumOf(any)(_.io.readBytes.toDouble), "bytes", ""),
      ("spark.shuffle_write_bytes", sumOf(any)(_.io.writeBytes.toDouble), "bytes", ""),
      ("spark.spill_bytes", sumOf(any)(_.io.spillBytes.toDouble), "bytes", "any spill is a red flag"),
      ("spark.task_skew_max", perPass(_.map(_.io.taskSkewMax).max), "ratio",
        s"max over stages of max/median task time (slowest task >= ${Ledger.SkewMinTaskMs} ms)"),
      ("spark.core_util", Stats.median(traced.map { p =>
        p.ops.map(o => traces(o.group).io.runS).sum / (p.wallS * nproc)
      }), "ratio", s"executor run time / (pass wall x $nproc cores)"))
  }

  private def traceMetrics: Seq[(String, Double, String, String)] = {
    val tb = Stats.median(traced.map(_.wallS))
    val overhead = if (untraced.isEmpty) 0.0 else tb - Stats.median(untraced.map(_.wallS))
    Seq(
      ("trace.batch_s", tb, "s", s"median wall of ${traced.size} traced passes"),
      ("trace.overhead_s", overhead, "s",
        s"traced minus untraced median pass wall (${traced.size} vs ${untraced.size} passes)"))
  }

  /** JIT work per pass: Spark generates classes for the plans of every
    * pass, and compiling them is part of `cpu_s`. */
  private def jvmMetrics: Seq[(String, Double, String, String)] = Seq(
    ("jvm.jit_s", Stats.median(traced.map(_.jitS)), "s",
      "JIT compile time per pass, summed over compiler threads"),
    ("jvm.classes_loaded", Stats.median(traced.map(_.classesLoaded.toDouble)), "count",
      "classes loaded per pass"))

  def metrics: Seq[(String, Double, String, String)] =
    skewMetrics ++ driverMetrics ++ sparkMetrics ++ moduleMetrics ++ traceMetrics ++ jvmMetrics

  /** One line per op of the last traced pass, and its job counts; on the
    * skew workloads also one per plain reference join, whose reduce-stage
    * task times show how much the hot key unbalances Spark's own join. */
  def opLines: Seq[String] = {
    val last = traced.last.ops.map(o => traces(o.group))
    plainRefs.map { case (jt, wallS, g, shuffles) =>
      f"plain $jt wall_s=$wallS%.3f" + ledger.readerOf(g, shuffles).fold("")(s =>
        s" join_stage_task_ms=${s.durationsMs.mkString(",")}")
    } ++ last.map { t =>
      f"op ${t.run.op.name} module=${t.module} wall_s=${t.run.wallS}%.3f call_s=${t.run.callS}%.3f " +
        f"jobs=${t.io.jobs} stages=${t.io.stages} tasks=${t.io.tasks} idle_s=${t.idleS}%.3f" +
        ledger.readerOf(t.run.group, t.joinShuffles).fold("")(s =>
          s" join_stage_task_ms=${s.durationsMs.mkString(",")}")
    } :+ last.map(t => s""""${t.run.op.name}":${t.io.jobs}""").mkString("jobs_per_op {", ",", "}")
  }

  /** Writes one JSON span per line: pass, op, layer call, action, Spark job
    * and stage, each with its parent and its self time (its duration less
    * the union of its children's). */
  def writeSpans(path: String): Unit = {
    final case class Span(id: Int, parent: Int, kind: String, name: String,
        startMs: Double, endMs: Double)
    val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
    def add(parent: Int, kind: String, name: String, s: Double, e: Double): Int = {
      val id = spans.size + 1
      spans += Span(id, parent, kind, name, s, e)
      id
    }
    traced.foreach { p =>
      val first = p.ops.head.startMs
      val passId = add(0, "pass", s"pass#${p.index}", first, first + p.wallS * 1e3)
      p.ops.foreach { r =>
        val opId = add(passId, "op", r.op.name, r.startMs, r.endMs)
        val callId = add(opId, "call", s"${r.op.module}:${r.op.name}", r.startMs, r.callEndMs)
        val actId = add(opId, "action", "fingerprint", r.callEndMs, r.endMs)
        val jobIds = ledger.jobsOf(r.group).map { j =>
          val parent = if (j.startMs < r.callEndMs) callId else actId
          j.jobId -> add(parent, "job", s"job ${j.jobId}", j.startMs, math.max(j.endMs, j.startMs))
        }.toMap
        ledger.stagesOf(r.group).filter(_.intervals.nonEmpty).foreach { s =>
          add(jobIds.getOrElse(s.jobId, opId), "stage", s"stage ${s.stageId}: ${s.name}",
            s.intervals.map(_._1).min, s.intervals.map(_._2).max)
        }
      }
    }
    val children = spans.groupBy(_.parent)
    val lines = spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)).toSeq
      val self = (s.endMs - s.startMs) - Ledger.coveredMs(kids, s.startMs, s.endMs)
      f"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}","name":${Pin.quote(s.name)},""" +
        f""""start_ms":${s.startMs}%.3f,"dur_ms":${s.endMs - s.startMs}%.3f,"self_ms":$self%.3f}"""
    }
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    java.nio.file.Files.write(f.toPath, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
