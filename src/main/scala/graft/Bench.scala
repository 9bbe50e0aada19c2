package graft
import org.apache.spark.sql.graftshim.Bridge
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    // fixed (sorted) order so per-query numbers are comparable across rounds;
    // SPARK_GRAFT_ONLY (comma-separated names) narrows the run for local dev
    // loops — the driver never sets it, so round benches stay full-surface
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])
    // a typo'd name would otherwise silently shrink the run while still
    // emitting a plausible-looking metric line — fail instead
    val unknown = only.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"SPARK_GRAFT_ONLY names not in SparkEntry.queries: ${unknown.mkString(",")}")
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
    // JMH-style steady-state measurement (methodology disclosed in
    // BENCH_NOTES.md): an untimed warm-up pass (see Harness.warmUp), then
    // `iters` timed passes per query with the per-query MEDIAN reported —
    // robust to transient host-load spikes without the best-case flattery of
    // a minimum (lower-middle element: an actual measurement, not an average).
    Harness.warmUp(spark, queries)
    // a stale BENCH_LAST.json from a previous run must never masquerade as
    // this run's result if the final write fails — drop it before measuring.
    // Narrowed (SPARK_GRAFT_ONLY) dev runs leave the tracked full-surface
    // record alone entirely: a 1-query dev loop must not clobber it.
    val writeBenchLast = only.isEmpty
    if (writeBenchLast)
      try java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get("BENCH_LAST.json"))
      catch { case e: Throwable => System.err.println(s"BENCH_LAST.json stale-delete failed: $e") }
    val iters = sys.env.getOrElse("SPARK_GRAFT_ITERS", "3").toInt
    // A throwing query must NOT masquerade as a fast one: its time-to-throw
    // still enters the median (so the line stays shape-stable), but the
    // error is surfaced in an "errors" field on both metric lines and the
    // process exits nonzero. The r9 fixture flip (TIMESTAMP_NTZ) showed an
    // entire query family can throw instantly while the bench prints
    // plausible sub-0.1 s timings — this channel closes that trap.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // Per-query plan fingerprints (jobs/stages) + EXACT task-grain
    // shuffle/spill bytes — see [[QueryIoListener]] (r17 task 4 replaced
    // the per-stage last-attempt-wins byte accounting, which undercounted
    // partial stage retries, with task-level sums that are exact under
    // every attempt structure; BenchIoSpec replays the retry shapes).
    // Keyed on a per-(query, iteration) job group (survives any
    // spark.ui.retained* eviction, unlike statusTracker); the sweep
    // between queries runs OUTSIDE the group so its unpersist jobs don't
    // pollute the counts. Spill means executor memory pressure — any
    // nonzero value at bench scale is a red flag the watch rule reads.
    val ioListener = new QueryIoListener
    spark.sparkContext.addSparkListener(ioListener)
    val timings = (1 to iters).map { it =>
      queries.map { case (name, fn) =>
        val t0 = System.nanoTime()
        spark.sparkContext.setJobGroup(s"graftbench:$name#$it", name)
        try { fn(spark, sfDir).count() } catch { case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse("").replaceAll("\\s+", " ").trim
          errors.getOrElseUpdate(name, (e.getClass.getSimpleName + ": " + msg).take(160))
        } finally spark.sparkContext.clearJobGroup()
        val dt = (System.nanoTime() - t0) / 1e9
        Harness.sweep(spark)
        name -> dt
      }.toMap
    }
    // listener events are async — drain the bus before reading counts
    Bridge.drainListeners(spark.sparkContext)
    // deterministic-by-design: report the LAST iteration's counts (steady
    // state; iteration 1 can differ only through error paths)
    val plans = queries.map { case (name, _) =>
      name -> ioListener.planCounts(s"graftbench:$name#$iters")
    }
    val results = queries.map { case (name, _) =>
      val sorted = timings.map(_(name)).sorted
      name -> sorted((sorted.size - 1) / 2)
    }
    // the metric line must be the LAST bytes on stdout: shutdown logging after
    // it can push its head out of a bounded tail capture (observed as r5/r6
    // bench JSON clipped before the alphabetically-first queries). So silence
    // logging, stop Spark first, round timings to keep the line short, and
    // only then print.
    def fmt(v: Double): String = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    // JSON string escape for error messages (same contract as Verify.q)
    def jq(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def errJson(maxMsg: Int): String =
      errors.map { case (k, v) => jq(k) + ":" + jq(v.take(maxMsg)) }.mkString("{", ",", "}")
    val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // machine-attributable plan fingerprint: name -> [jobs, stages] for the
    // final timed pass. Full line / BENCH_LAST.json only — the compact
    // tail-capture line keeps its byte budget for timings.
    val plansJson = plans.map { case (k, (j, st)) => "\"" + k + "\":[" + j + "," + st + "]" }
      .mkString("{", ",", "}")
    // name -> [shuffle_read, shuffle_write, spill] bytes, final timed pass
    // (same steady-state convention as plan_jobs_stages). Full line /
    // BENCH_LAST.json only.
    val ioJson = queries.map { case (name, _) =>
      val (r, w, sp) = ioListener.ioForGroup(s"graftbench:$name#$iters")
      "\"" + name + "\":[" + r + "," + w + "," + sp + "]"
    }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    val line = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n":${results.size},"errors":${errJson(160)},"queries":$qs,"plan_jobs_stages":$plansJson,"shuffle_rw_spill_bytes":$ioJson,"sf":"$sfDir"}"""
    // a bounded stdout tail capture can still clip the line's head under
    // heavy shutdown noise (r5-r7 all lost queries to it) — the file copy is
    // the canonical, unclippable record
    if (writeBenchLast)
      try java.nio.file.Files.write(
        java.nio.file.Paths.get("BENCH_LAST.json"),
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch {
        // stdout still carries the line; the failure itself must be visible
        // (stderr — stdout stays clean for the JSON tail capture)
        case e: Throwable => System.err.println(s"BENCH_LAST.json write failed: $e")
      }
    println(line)
    // The driver's stdout tail capture is 2000 bytes (measured: r7 AND r8
    // "tail" fields are exactly 2000 chars), and the full 96-query line is
    // ~2.3 KB — it can NEVER fit, which is why every round's BENCH_r*.json
    // has "parsed": null. So after the full line, print a COMPACT line that
    // is guaranteed to fit the tail: same contract shape, per-query map
    // restricted to the most expensive queries that fit a 1750-byte budget
    // (the cheap sub-second tail adds nothing to perf grading), with
    // "omitted" counting what was dropped. The full map stays one line up
    // and in BENCH_LAST.json (tracked, so the driver's post-bench commit
    // preserves it).
    def fmt2(v: Double): String = BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
    val byCost = results.sortBy(-_._2)
    // the compact line carries errors too (messages clipped harder) — the
    // head string includes them so the query budget accounts for their bytes
    val head = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n":${results.size},"errors":${errJson(40)},"sf":"$sfDir","omitted":"""
    val budget = 1750 - head.length - 16
    val keep = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    var used = 0
    byCost.foreach { case (k, v) =>
      val e = k.length + fmt2(v).length + 4
      if (used + e <= budget) { keep += ((k, v)); used += e }
    }
    val keptSorted = keep.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + fmt2(v) }.mkString("{", ",", "}")
    println(s"""$head${results.size - keep.size},"queries":$keptSorted}""")
    if (errors.nonEmpty) {
      // the timings above are times-to-THROW for these queries, not real
      // measurements — make the run itself fail so no pipeline treats them
      // as a valid bench
      System.err.println(s"[bench] ${errors.size} queries threw: ${errors.keys.mkString(",")}")
      sys.exit(1)
    }
  }
}
