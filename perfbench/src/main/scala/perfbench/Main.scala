package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.perfbench.SparkShim

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Runs one workload in one process on `local[nproc]` as a closed loop with
  * one client: each op starts when the previous one ends. Ops run in whole
  * passes over the workload's op list until the next pass would end past
  * `--seconds`. Every op's output is checked.
  *
  * {{{
  * Main --workload NAME --seed N --seconds S --trace 0|1 --data DIR
  *      [--trace-out FILE] [--sha SHA]
  * Main --pin OUTDIR --data DIR      (pipeline_sf01 outputs + fingerprints)
  * }}}
  *
  * Prints `stamp`, `metric` and `op` lines, then one `RESULT {json}` line.
  * Exits 1 when any op threw or failed its output check. */
object Main {

  final case class Args(
      workload: String = "",
      seed: Long = 0L,
      seconds: Double = 10.0,
      trace: Boolean = false,
      dataDir: String = "",
      traceOut: Option[String] = None,
      sha: String = "unknown",
      pinOut: Option[String] = None)

  def parseArgs(argv: Seq[String]): Args = argv match {
    case Seq() => Args()
    case "--workload" +: v +: rest => parseArgs(rest).copy(workload = v)
    case "--seed" +: v +: rest => parseArgs(rest).copy(seed = v.toLong)
    case "--seconds" +: v +: rest => parseArgs(rest).copy(seconds = v.toDouble)
    case "--trace" +: v +: rest => parseArgs(rest).copy(trace = v == "1")
    case "--data" +: v +: rest => parseArgs(rest).copy(dataDir = v)
    case "--trace-out" +: v +: rest => parseArgs(rest).copy(traceOut = Some(v))
    case "--sha" +: v +: rest => parseArgs(rest).copy(sha = v)
    case "--pin" +: v +: rest => parseArgs(rest).copy(pinOut = Some(v))
    case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
  }

  /** Wall clock in epoch milliseconds at nanosecond resolution, on the same
    * scale as the scheduler's event times. */
  object Clock {
    private val baseMs = System.currentTimeMillis().toDouble
    private val baseNs = System.nanoTime()
    def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
  }

  final case class OpRun(op: Op, group: String, startMs: Double, callEndMs: Double,
      endMs: Double, ok: Boolean, error: Option[String], callDf: Option[DataFrame],
      fpFrame: Option[DataFrame]) {
    def wallS: Double = (endMs - startMs) / 1e3
    def callS: Double = (callEndMs - startMs) / 1e3
    def actionS: Double = (endMs - callEndMs) / 1e3
  }

  final case class PassRun(index: Int, traced: Boolean, wallS: Double, cpuS: Double,
      jitS: Double, classesLoaded: Long, ops: Seq[OpRun])

  def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Time the JIT compilers have spent so far, summed over their threads. */
  def jitS(): Double =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  def classesLoaded(): Long =
    java.lang.management.ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  /** Peak use of the old generation since the last [[resetOldGenPeak]], in
    * MB: what the program retains, apart from the fixed young generation
    * that dominates `peak_rss_mb`. */
  def oldGenPeakMb(): Double = oldGen.map(_.getPeakUsage.getUsed / (1024.0 * 1024.0)).getOrElse(0.0)
  def resetOldGenPeak(): Unit = oldGen.foreach(_.resetPeakUsage())
  private def oldGen = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(_.getName.contains("Old Gen"))
  }

  def runOp(spark: SparkSession, op: Op, group: String): OpRun = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, op.name)
    val start = Clock.nowMs
    var callEnd = start
    var callDf: Option[DataFrame] = None
    var fpFrame: Option[DataFrame] = None
    try {
      val df = op.call()
      callEnd = Clock.nowMs
      callDf = Some(df)
      val fp = Fingerprint.frame(df)
      fpFrame = Some(fp)
      val got = Fingerprint.read(fp)
      val end = Clock.nowMs
      val want = op.expected()
      val ok = Fingerprint.matches(got, want)
      OpRun(op, group, start, callEnd, end, ok,
        if (ok) None else Some(s"output check failed: got $got, want $want"), callDf, fpFrame)
    } catch {
      case e: Exception =>
        val end = Clock.nowMs
        OpRun(op, group, start, math.max(callEnd, start), end, ok = false,
          Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
            .replaceAll("\\s+", " ").take(300)), callDf, fpFrame)
    } finally sc.clearJobGroup()
  }

  def session(w: Workload, nproc: Int): SparkSession = {
    val b = SparkSession.builder()
      .appName(s"perfbench-${w.name}")
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // Spark keeps 100 generated classes by default; one skew pass needs
      // more, so each pass would compile its code again, and how much of
      // that the JIT had caught up with set a run's speed (±15% between
      // runs of the same seed). Every workload keeps all its classes.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
    w.sessionConf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val a = parseArgs(argv.toSeq)
    a.pinOut match {
      case Some(out) => Pin.run(a.dataDir, out)
      case None => sys.exit(run(a, t0))
    }
  }

  def run(a: Args, t0: Long): Int = {
    val nproc = Runtime.getRuntime.availableProcessors()
    val w = Workloads(a.workload, a.seed, a.dataDir)
    val spark = session(w, nproc)
    val sc = spark.sparkContext
    val sessionS = (System.nanoTime() - t0) / 1e9
    val group = (op: String) => s"${Ledger.GroupPrefix}${w.name}:$op"

    // set-up: the input build three times (median), then the warm-up passes
    // below. The reference outputs come in between and count in neither
    // set-up nor the timed window; the warm-up then also settles whatever
    // the reference queries left compiled, collected or cached.
    val loadS = (1 to 3).map { _ =>
      val t = System.nanoTime(); w.loadInputs(spark); (System.nanoTime() - t) / 1e9
    }
    w.prepareChecks(spark, op => group(s"$op#0"))
    val warmT = System.nanoTime()
    for (k <- 1 to w.warmupPasses; op <- w.pass(spark, -k)) {
      sc.setJobGroup(group(s"warmup${k}_${op.name}"), op.name)
      try Fingerprint.of(op.call()) finally sc.clearJobGroup()
      w.sweep(spark)
    }
    val warmS = (System.nanoTime() - warmT) / 1e9
    val setupS = sessionS + Stats.median(loadS) + warmS

    val ledger = new Ledger

    // the timed window: whole passes while the next one is due to fit. A
    // traced run alternates untraced and traced passes (at least one of
    // each) so it can report its own tracing overhead.
    resetOldGenPeak()
    val passes = ArrayBuffer.empty[PassRun]
    val windowT = System.nanoTime()
    def elapsed = (System.nanoTime() - windowT) / 1e9
    def another: Boolean = passes.isEmpty || (a.trace && passes.size < 2) ||
      elapsed + Stats.median(passes.map(_.wallS).toSeq) <= a.seconds
    while (another) {
      val i = passes.size
      val traced = a.trace && i % 2 == 1
      if (traced) sc.addSparkListener(ledger)
      val ops = w.pass(spark, i)
      val cpu0 = processCpuS()
      val jit0 = jitS()
      val classes0 = classesLoaded()
      val p0 = Clock.nowMs
      val runs = ops.map { op =>
        val r = runOp(spark, op, group(s"${op.name}#$i"))
        w.sweep(spark)
        r
      }
      val wall = (Clock.nowMs - p0) / 1e3
      passes += PassRun(i, traced, wall, processCpuS() - cpu0, jitS() - jit0,
        classesLoaded() - classes0, runs)
      if (traced) { SparkShim.drain(sc); sc.removeSparkListener(ledger) }
    }

    // a traced run times the reference computations again, now warm, for
    // the per-layer comparison figures
    if (a.trace) {
      sc.addSparkListener(ledger)
      w.traceReferences(spark, op => group(s"$op#0"))
      SparkShim.drain(sc); sc.removeSparkListener(ledger)
    }

    val stamp = Stamp(spark, w.name, a.seed, a.sha, a.trace, nproc)
    val all = passes.flatMap(_.ops).toSeq
    val failed = all.count(!_.ok)
    all.filter(!_.ok).foreach(r => println(s"op-failed ${r.group}: ${r.error.getOrElse("")}"))

    val metrics: Seq[(String, Double, String, String)] =
      if (!a.trace) {
        val (p50, tail) = Stats.opLatency(passes.map(_.ops.map(_.wallS).toSeq).toSeq)
        val perPass = s"per pass of ${passes.head.ops.size} ops, median over ${passes.size} passes"
        Seq(
          ("setup_s", setupS, "s",
            f"session $sessionS%.3f s + input build ${Stats.median(loadS)}%.3f s (median of 3) + ${w.warmupPasses} warm-up passes $warmS%.3f s"),
          ("batch_s", Stats.median(passes.map(_.wallS).toSeq), "s",
            s"median pass wall over ${passes.size} passes of ${passes.head.ops.size} ops"),
          ("op_p50_s", p50, "s", s"median op $perPass"),
          ("op_tail_s", tail, "s", s"slowest op $perPass"),
          ("cpu_s", Stats.median(passes.map(_.cpuS).toSeq), "s", "process CPU per pass, median"),
          ("peak_rss_mb", peakRssMb(), "MB", "VmHWM, with a fixed pre-touched heap"),
          ("op_fail_frac", failed.toDouble / all.size, "ratio", s"$failed of ${all.size}"))
      } else {
        val layers = new LayerReport(w, passes.toSeq, ledger, nproc)
        a.traceOut.foreach(layers.writeSpans)
        layers.opLines.foreach(println)
        layers.metrics :+ ("jvm.old_gen_peak_mb", oldGenPeakMb(), "MB",
          "peak old-generation use over the timed window")
      }

    println("stamp " + stamp)
    println(passes.map(p => f"${p.wallS}%.3f" + (if (p.traced) "t" else ""))
      .mkString("passes_s ", " ", ""))
    metrics.foreach { case (n, v, u, note) =>
      println(s"metric $n = ${fmtNum(v)} $u" + (if (note.nonEmpty) s"  ($note)" else ""))
    }
    // op_fail_frac is carried by attempted/failed: a bounded metric is never 0
    val shown = metrics.filterNot(_._1 == "op_fail_frac")
    val json = shown.map { case (n, v, u, _) =>
      s""""$n":{"value":${fmtNum(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    println(s"""RESULT {"correct":${failed == 0},"attempted":${all.size},"failed":$failed,"metrics":$json}""")
    if (failed == 0) 0 else 1
  }

  def fmtNum(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).bigDecimal.stripTrailingZeros.toPlainString
}

/** What the run ran on, printed with every result. */
object Stamp {
  def apply(spark: SparkSession, workload: String, seed: Long, sha: String,
      trace: Boolean, nproc: Int): String = {
    val xmx = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .toArray.map(_.toString).filter(_.startsWith("-Xmx")).lastOption.getOrElse("default")
    Seq(
      "workload" -> s""""$workload"""",
      "seed" -> seed.toString,
      "trace" -> trace.toString,
      "nproc" -> nproc.toString,
      "default_parallelism" -> spark.sparkContext.defaultParallelism.toString,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "xmx" -> s""""${xmx.stripPrefix("-Xmx")}"""",
      "max_heap_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString,
      "spark_version" -> s""""${spark.version}"""",
      "git_sha" -> s""""$sha"""")
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
  }
}
