package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamOps
import graft.testkit.DatasetComparisons._

class StreamSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def batchEvents = graft.sources.EventTime.withTsNs(
    spark.read.parquet(s"$sf/events.parquet"))

  test("streaming windowed counts equal the batch aggregation") {
    val streamed = StreamOps.runToMemory(spark,
      StreamOps.windowedCounts(StreamOps.eventsStream(spark, s"$sf/events.parquet")),
      "t_stream_hourly")
      .select(col("window.start").as("wstart"), col("event_type"), col("n"))
    val batch = batchEvents
      .groupBy(window(col("ts"), "1 hour").getField("start").as("wstart"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
    streamed.ensureDatasetEquals(batch)
  }

  test("streaming session counts: sessions partition events, gaps respected") {
    val sessions = StreamOps.runToMemory(spark,
      StreamOps.sessionCounts(StreamOps.eventsStream(spark, s"$sf/events.parquet")),
      "t_stream_sessions")
    val totalEvents = sessions.agg(sum("n_events")).head().getLong(0)
    assert(totalEvents == batchEvents.count())
    assert(sessions.filter(col("n_events") <= 0).isEmpty)
  }

  test("streaming dedup emits each distinct key exactly once") {
    val got = StreamOps.runToMemory(spark,
      StreamOps.dedupKeys(StreamOps.eventsStream(spark, s"$sf/events.parquet"),
        Seq("user_id", "event_type")),
      "t_stream_dedup", outputMode = "append")
    got.ensureDatasetEquals(batchEvents.select("user_id", "event_type").distinct())
  }

  test("streaming dedup within watermark covers all keys on a bounded replay") {
    val got = StreamOps.runToMemory(spark,
      StreamOps.dedupKeys(StreamOps.eventsStream(spark, s"$sf/events.parquet"),
        Seq("user_id", "event_type"), withinWatermark = Some(("ts", "1 hour"))),
      "t_stream_dedup_wm", outputMode = "append")
    // a single-batch replay holds the watermark at the epoch for the whole
    // batch, so no state ages out and the result is the exact distinct set
    got.ensureDatasetEquals(batchEvents.select("user_id", "event_type").distinct())
  }

  test("stream-stream interval join equals the batch interval join") {
    val ev = StreamOps.eventsStream(spark, s"$sf/events.parquet")
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_event_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("c_event_id"), col("ts"))
    val streamed = StreamOps.runToMemory(spark,
      StreamOps.intervalJoin(purch, clicks, Seq("user_id"), "0 SECOND", "1 HOUR")
        .select("p_event_id", "user_id", "c_event_id"),
      "t_stream_ivj", outputMode = "append")
    val be = batchEvents
    val bp = be.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_event_id"), col("ts").as("p_ts"))
    val bc = be.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user_id"), col("event_id").as("c_event_id"),
        col("ts").as("c_ts"))
    val batch = bp.join(bc,
        col("user_id") === col("c_user_id") &&
          col("c_ts") >= col("p_ts") &&
          col("c_ts") < col("p_ts") + expr("INTERVAL 1 HOUR"))
      .select("p_event_id", "user_id", "c_event_id")
    streamed.ensureDatasetEquals(batch)
  }

  test("skewed stream-stream interval join equals the unsalted join and salts hot keys") {
    import spark.implicits._
    import graft.skew.SkewJoinConf
    val conf = SkewJoinConf(CMSeps = 1e-4, replicationFactor = 0.05)
    val ev = StreamOps.eventsStream(spark, s"$sf/events.parquet")
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_event_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("c_event_id"), col("ts"))
    // historical sample with a manufactured hot key so replication engages
    val hist = (batchEvents.select("user_id") unionAll
      (1 to 400).map(_ => 7L).toDF("user_id"))
    val salted = StreamOps.skewedIntervalJoin(
      purch, clicks, Seq("user_id"), "0 SECOND", "1 HOUR",
      hotKeySource = hist, conf = conf)
      .select("p_event_id", "user_id", "c_event_id")
    // salt columns must be part of the streaming join condition
    assert(salted.queryExecution.analyzed.toString.contains("__graft_salt"))
    // and the gate must actually replicate the hot key > 1×
    val reps = hist.withColumn("__rep",
        graft.skew.SkewJoin.replication(Seq(hist), Seq("user_id"), conf).head)
      .filter(col("user_id") === 7L).select("__rep").distinct()
      .collect().map(_.getInt(0))
    assert(reps.nonEmpty && reps.forall(_ > 1), s"hot key rep = ${reps.toSeq}")
    val got = StreamOps.runToMemory(spark, salted, "t_stream_skivj",
      outputMode = "append")
    val want = StreamOps.runToMemory(spark,
      StreamOps.intervalJoin(purch, clicks, Seq("user_id"), "0 SECOND", "1 HOUR")
        .select("p_event_id", "user_id", "c_event_id"),
      "t_stream_skivj_plain", outputMode = "append")
    got.ensureDatasetEquals(want)
  }

  test("adaptive hotness: a mid-stream-hot key salts after a monitor refresh") {
    import spark.implicits._
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import graft.skew.SkewJoinConf
    import graft.streaming.RefreshableHotness
    val conf = SkewJoinConf(CMSeps = 1e-4, replicationFactor = 0.05)
    // historical sample: key 7 hot, key 99 absent (events only has ids
    // 0..14, each a sizeable share of the tiny sf0.001 table)
    val hist = (batchEvents.select("user_id") unionAll
      (1 to 400).map(_ => 7L).toDF("user_id"))
    val hot = new RefreshableHotness(Seq("user_id"), conf, Some(hist))
    def repOf(k: Long): Int =
      Seq(k).toDF("user_id")
        .withColumn("__rep", hot.replication(spark)).head().getInt(1)
    // the staleness bound skewedIntervalJoin documents: pre-refresh, the
    // model IS the historical sketch — key 99's coming hotness is invisible
    assert(repOf(7L) > 1, s"historical hot key rep = ${repOf(7L)}")
    assert(repOf(99L) == 1, s"pre-refresh rep(99) = ${repOf(99L)}")
    // a stream in which key 99 becomes hot; the foreachBatch monitor folds
    // each micro-batch into the model as it arrives
    val dir = java.nio.file.Files.createTempDirectory("graft_hotmon_")
    dir.toFile.deleteOnExit()
    (1 to 400).map(_ => 99L).toDF("user_id")
      .write.mode("overwrite").parquet(dir.toString)
    val mon = hot.attachMonitor(
      spark.readStream
        .schema(StructType(Seq(StructField("user_id", LongType))))
        .parquet(dir.toString))
    try mon.processAllAvailable() finally mon.stop()
    assert(repOf(99L) > 1, "mid-stream-hot key must salt after refresh")
    assert(repOf(7L) > 1, "historical hot key must stay salted")
    // and a join (re)started on the refreshed model still emits the exact
    // multiset — salting stays transparent under merged hotness
    val ev = StreamOps.eventsStream(spark, s"$sf/events.parquet")
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_event_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("c_event_id"), col("ts"))
    val got = StreamOps.runToMemory(spark,
      StreamOps.skewedIntervalJoinAdaptive(
        purch, clicks, Seq("user_id"), "0 SECOND", "1 HOUR", hot)
        .select("p_event_id", "user_id", "c_event_id"),
      "t_stream_adskivj", outputMode = "append")
    val want = StreamOps.runToMemory(spark,
      StreamOps.intervalJoin(purch, clicks, Seq("user_id"), "0 SECOND", "1 HOUR")
        .select("p_event_id", "user_id", "c_event_id"),
      "t_stream_adskivj_plain", outputMode = "append")
    got.ensureDatasetEquals(want)
  }

  /** An orchestrated adaptive interval join (purchases ⋈ clicks) over a
    * model in which key 7 is hot and key 99 unseen, and a monitor over a
    * stream in which key 99 turns hot. `repAtStart` holds rep(99) as each
    * (re)started join saw it: the factory reads it at build time, when the
    * model cannot move (folds happen on the test thread). */
  private class Orchestrated(tag: String) {
    import spark.implicits._
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import graft.skew.SkewJoinConf
    import graft.streaming.{HotnessOrchestrator, RefreshableHotness}
    private val hist = (batchEvents.select("user_id") unionAll
      (1 to 400).map(_ => 7L).toDF("user_id"))
    val hot = new RefreshableHotness(Seq("user_id"),
      SkewJoinConf(CMSeps = 1e-4, replicationFactor = 0.05), Some(hist))
    def repOf(k: Long): Int =
      Seq(k).toDF("user_id")
        .withColumn("__rep", hot.replication(spark)).head().getInt(1)
    private val Seq(outDir, joinCkpt, monDir, monCkpt) = Seq("out", "ck", "mon", "mck")
      .map(d => java.nio.file.Files.createTempDirectory(s"${tag}_${d}_"))
    Seq(outDir, joinCkpt, monDir, monCkpt).foreach(_.toFile.deleteOnExit())
    val repAtStart = scala.collection.mutable.ArrayBuffer.empty[Int]
    private def factory(): org.apache.spark.sql.streaming.StreamingQuery = {
      val ev = StreamOps.eventsStream(spark, s"$sf/events.parquet")
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_event_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("c_event_id"), col("ts"))
      val joined = StreamOps.skewedIntervalJoinAdaptive(
        purch, clicks, Seq("user_id"), "0 SECOND", "1 HOUR", hot)
        .select("p_event_id", "user_id", "c_event_id")
      repAtStart += repOf(99L)
      // fixed checkpoint = the restartable-sink contract the helper requires
      joined.writeStream.format("parquet")
        .option("path", outDir.toString)
        .option("checkpointLocation", joinCkpt.toString)
        .outputMode("append").start()
    }
    val orch = new HotnessOrchestrator(hot, () => factory(), driftThreshold = 1)
    /** Key 99 turns hot: 400 rows through the orchestrated monitor. */
    def foldHotKey(): Unit = {
      (1 to 400).map(_ => 99L).toDF("user_id")
        .write.mode("overwrite").parquet(monDir.toString)
      val mon = orch.attachMonitor(
        spark.readStream
          .schema(StructType(Seq(StructField("user_id", LongType))))
          .parquet(monDir.toString),
        Some(monCkpt.toString))
      try mon.processAllAvailable() finally mon.stop()
    }
  }

  test("orchestrator: a mid-stream-hot key is salted after an AUTOMATED restart") {
    val o = new Orchestrated("graft_orch")
    import o._
    val first = orch.start()
    try {
      first.processAllAvailable()
      // key 99 becomes hot mid-stream; the orchestrated monitor folds it,
      // sees the drift, and restarts the join on its own
      foldHotKey()
      assert(orch.restarts == 1, s"expected 1 automated restart, got ${orch.restarts}")
      assert(orch.activeQuery.isActive, "restarted query is not running")
      assert(!(orch.activeQuery eq first), "restart must build a NEW query")
      // the restarted join was BUILT with the refreshed model: hot mid-stream
      // key salted, historical hot key still salted, cold key untouched
      assert(repAtStart.toSeq.length == 2, s"factory ran ${repAtStart.size} times")
      assert(repAtStart(0) == 1, s"initial query already salted 99: ${repAtStart(0)}")
      assert(repAtStart(1) > 1, s"restarted query does not salt 99: ${repAtStart(1)}")
      assert(repOf(7L) > 1, "historical hot key lost its salting")
    } finally orch.stop()
  }

  test("orchestrator: a monitor attached before start() only folds") {
    val o = new Orchestrated("graft_orch0")
    import o._
    // no query is running yet: the monitor folds key 99 and re-plans nothing
    foldHotKey()
    assert(orch.restarts == 0, s"restarted ${orch.restarts} times before start()")
    assert(orch.activeQuery == null, "a query started before start()")
    assert(repAtStart.isEmpty, s"factory ran ${repAtStart.size} times before start()")
    // the first start builds on everything folded so far
    try {
      orch.start().processAllAvailable()
      assert(repAtStart.toSeq.length == 1, s"factory ran ${repAtStart.size} times")
      assert(repAtStart(0) > 1, s"started query does not salt 99: ${repAtStart(0)}")
    } finally orch.stop()
  }

  test("a checkpointed monitor restart folds each event exactly once") {
    import spark.implicits._
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import graft.skew.SkewJoinConf
    import graft.streaming.RefreshableHotness
    val conf = SkewJoinConf(CMSeps = 1e-4, replicationFactor = 0.05)
    val hot = new RefreshableHotness(Seq("user_id"), conf)
    def repOf(k: Long): Int =
      Seq(k).toDF("user_id")
        .withColumn("__rep", hot.replication(spark)).head().getInt(1)
    val dir = java.nio.file.Files.createTempDirectory("graft_hotckpt_")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_hotckpt_c_")
    Seq(dir, ckpt).foreach(_.toFile.deleteOnExit())
    (1 to 400).map(_ => 5L).toDF("user_id")
      .write.mode("overwrite").parquet(dir.toString)
    def mkStream = spark.readStream
      .schema(StructType(Seq(StructField("user_id", LongType))))
      .parquet(dir.toString)
    val m1 = hot.attachMonitor(mkStream, Some(ckpt.toString))
    try m1.processAllAvailable() finally m1.stop()
    val r1 = repOf(5L)
    assert(r1 > 1, s"hot key rep after first fold = $r1")
    // a RESTARTED monitor on the same checkpoint resumes from committed
    // offsets: history is not re-folded, the estimate (hence rep) is stable
    val m2 = hot.attachMonitor(mkStream, Some(ckpt.toString))
    try m2.processAllAvailable() finally m2.stop()
    assert(repOf(5L) == r1,
      s"checkpointed restart re-folded history: rep ${repOf(5L)} != $r1")
  }

  test("flatMapGroupsWithState running counts converge to the batch counts") {
    val out = StreamOps.runToMemory(spark,
      StreamOps.runningUserCounts(
        StreamOps.eventsStream(spark, s"$sf/events.parquet")),
      "t_stream_running", outputMode = "update")
      .groupBy("user_id").agg(max("n_events").as("n_events"))
    val batch = batchEvents.groupBy("user_id").agg(count(lit(1)).as("n_events"))
    out.ensureDatasetEquals(batch)
  }

  test("streaming KMV sketch converges to the batch sketch across micro-batch slices") {
    import spark.implicits._
    // three separate file writes + maxFilesPerTrigger=1 force multiple
    // micro-batches, so the state fold's batching-independence is exercised
    val dir = java.nio.file.Files.createTempDirectory("graft_kmv_")
    dir.toFile.deleteOnExit()
    val data = (1L to 300L).map(i => (s"g${i % 3}", i % 97))
    data.grouped(100).foreach { chunk =>
      chunk.toDF("g", "v").coalesce(1)
        .write.mode("append").parquet(dir.toString)
    }
    val stream = spark.readStream
      .schema("g STRING, v BIGINT")
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.toString)
    val updates = StreamOps.runToMemory(spark,
      StreamOps.kmvDistinctUpdates(stream, "g", "v", k = 8),
      "t_stream_kmv", outputMode = "update")
    // multiple updates per group proves the slicing actually happened
    assert(updates.groupBy("g").count().filter(col("count") > 1).count() == 3)
    val fin = StreamOps.converged(updates, "g")
    val batch = graft.sketch.KmvOps.kmvDistinct(
      spark.read.parquet(dir.toString), Seq("g"), "v", k = 8)
    fin.ensureDatasetEquals(batch)
  }

  test("streaming lateness audit converges to the batch running-max census across slices") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val dir = java.nio.file.Files.createTempDirectory("graft_late_")
    dir.toFile.deleteOnExit()
    val rnd = new scala.util.Random(41)
    // disorder ON PURPOSE: event times shuffled against arrival order,
    // including regressions that span micro-batch boundaries
    val data = (1L to 300L).map { i =>
      val ts = i * 120000000000L + (rnd.nextInt(41) - 20) * 300000000000L
      (s"g${i % 2}", i, ts)
    }
    data.grouped(100).foreach { chunk =>
      chunk.toDF("g", "arr", "ts").coalesce(1)
        .write.mode("append").parquet(dir.toString)
    }
    val stream = spark.readStream
      .schema("g STRING, arr BIGINT, ts BIGINT")
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.toString)
    val updates = StreamOps.runToMemory(spark,
      StreamOps.latenessUpdates(stream, "g", "arr", "ts"),
      "t_stream_late", outputMode = "update")
    assert(updates.groupBy("g").count().filter(col("count") > 1).count() == 2)
    val fin = StreamOps.converged(updates, "g")
    val batch = spark.read.parquet(dir.toString)
      .withColumn("rmax", max("ts").over(Window.partitionBy("g")
        .orderBy("arr").rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("late", col("rmax") - col("ts"))
      .groupBy("g")
      .agg(count(lit(1)).as("n"),
        sum(when(col("late") > 0, 1L).otherwise(0L)).as("n_ooo"),
        sum(when(col("late") > 60000000000L, 1L).otherwise(0L)).as("n_late_1m"),
        sum(when(col("late") > 300000000000L, 1L).otherwise(0L)).as("n_late_5m"),
        sum(when(col("late") > 3600000000000L, 1L).otherwise(0L)).as("n_late_1h"),
        max("late").as("max_late_ns"))
    fin.ensureDatasetEquals(batch)
    // the disorder actually exercised the threshold counters
    assert(fin.agg(sum("n_late_5m")).head().getLong(0) > 0)
  }

  test("lateness audit fails loudly when a source delivers slices out of arrival order") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_late_ooo_")
    dir.toFile.deleteOnExit()
    // file 1 carries arrivals 101..200, file 2 arrivals 1..100 — a
    // reordering source; the equality-with-batch contract is void, so the
    // operator must throw, not converge to wrong counters.
    Seq((101L to 200L), (1L to 100L)).foreach { arrs =>
      arrs.map(a => ("g0", a, a * 1000000000L)).toDF("g", "arr", "ts")
        .coalesce(1).write.mode("append").parquet(dir.toString)
      Thread.sleep(1100) // distinct mtimes so file order is deterministic
    }
    val stream = spark.readStream
      .schema("g STRING, arr BIGINT, ts BIGINT")
      .option("maxFilesPerTrigger", "1")
      .option("latestFirst", "false")
      .parquet(dir.toString)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      StreamOps.runToMemory(spark,
        StreamOps.latenessUpdates(stream, "g", "arr", "ts"),
        "t_stream_late_ooo", outputMode = "update")
    }
    assert(ex.getMessage.contains("out of arrival order") ||
      Option(ex.getCause).exists(_.getMessage != null &&
        ex.getCause.getMessage.contains("out of arrival order")))
  }

  test("streaming HLL registers converge to the batch sketch across micro-batch slices") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_shll_")
    dir.toFile.deleteOnExit()
    val data = (1L to 300L).map(i => (s"g${i % 3}", i % 97))
    data.grouped(100).foreach { chunk =>
      chunk.toDF("g", "v").coalesce(1)
        .write.mode("append").parquet(dir.toString)
    }
    val stream = spark.readStream
      .schema("g STRING, v BIGINT")
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.toString)
    val updates = StreamOps.runToMemory(spark,
      StreamOps.hllDistinctUpdates(stream, "g", "v", p = 6),
      "t_stream_hll", outputMode = "update")
    assert(updates.groupBy("g").count().filter(col("count") > 1).count() == 3)
    val fin = StreamOps.converged(updates, "g")
      .select(col("g"), lit(64L).as("m"), col("used_buckets"),
        (lit(64L) - col("used_buckets")).as("zero_buckets"),
        col("denom_q"), col("est_distinct"))
    val batch = graft.sketch.HllOps.hllEstimate(
      spark.read.parquet(dir.toString), Seq("g"), "v", p = 6)
    fin.ensureDatasetEquals(batch)
  }

  test("streaming trend fold converges to the batch OLS slope across micro-batch slices") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_trend_")
    dir.toFile.deleteOnExit()
    val rnd = new scala.util.Random(13)
    // x, y big enough that Σxy overflows int64 within a group if the fold
    // ever dropped to long arithmetic (3e6 · 5e8 · 100 rows ≈ 1.5e17·100)
    val data = (1L to 300L).map(i =>
      (s"g${i % 3}", rnd.nextInt(3000000).toLong,
        rnd.nextInt(1000000000).toLong - 500000000L))
    data.grouped(100).foreach { chunk =>
      chunk.toDF("g", "x", "y").coalesce(1)
        .write.mode("append").parquet(dir.toString)
    }
    val stream = spark.readStream
      .schema("g STRING, x BIGINT, y BIGINT")
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.toString)
    val updates = StreamOps.runToMemory(spark,
      StreamOps.trendUpdates(stream, "g", col("x"), col("y")),
      "t_stream_trend", outputMode = "update")
    // multiple updates per group proves the slicing actually happened
    assert(updates.groupBy("g").count().filter(col("count") > 1).count() == 3)
    val fin = StreamOps.converged(updates, "g")
    val batch = graft.operators.Trend.groupedTrend(
      spark.read.parquet(dir.toString), Seq("g"), col("x"), col("y"))
    fin.ensureDatasetEquals(batch)
  }

  test("streaming EWMA converges to the batch series' final row under SHUFFLED arrival order") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ewma_")
    dir.toFile.deleteOnExit()
    val rnd = new scala.util.Random(7)
    // days delivered SHUFFLED across micro-batches: the grid-buffered state
    // must still converge to the in-x-order batch smoothing — this is the
    // property the power-sum folds get for free and EWMA must buy with grid
    // state (negative y values exercise the sign-split branch)
    val data = rnd.shuffle((1L to 120L).map(i =>
      (s"g${i % 3}", i % 20, rnd.nextInt(2000000).toLong - 1000000L)).toVector)
    data.grouped(40).foreach { chunk =>
      chunk.toDF("g", "x", "y").coalesce(1)
        .write.mode("append").parquet(dir.toString)
    }
    val stream = spark.readStream
      .schema("g STRING, x BIGINT, y BIGINT")
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.toString)
    val updates = StreamOps.runToMemory(spark,
      StreamOps.ewmaUpdates(stream, "g", col("x"), col("y")),
      "t_stream_ewma", outputMode = "update")
    assert(updates.groupBy("g").count().filter(col("count") > 1).count() == 3)
    val fin = StreamOps.converged(updates, "g")
    val batchLast = graft.operators.Trend
      .ewmaIntSeries(spark.read.parquet(dir.toString), Seq("g"), col("x"), col("y"))
      .groupBy("g")
      .agg(max(struct(col("x"), col("y"), col("ewma"))).as("__f"))
      .select(col("g"), col("__f.x").as("x"), col("__f.y").as("y"),
        col("__f.ewma").as("ewma"))
    fin.ensureDatasetEquals(batchLast)
  }

  test("streaming change-point converges to the batch locator under SHUFFLED arrival order") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cpt_")
    dir.toFile.deleteOnExit()
    val rnd = new scala.util.Random(19)
    // shuffled micro-batch delivery incl. a clean level shift in g0 and
    // noisy groups; the grid-buffered fold must re-locate the batch
    // operator's split exactly once all days have arrived
    val data = rnd.shuffle(((1L to 90L).map { i =>
      val g = s"g${i % 3}"
      val x = i % 15
      val y = if (g == "g0" && x >= 8) 5000L + rnd.nextInt(100)
        else rnd.nextInt(2000).toLong - 700L
      (g, x, y)
    }).toVector)
    data.grouped(30).foreach { chunk =>
      chunk.toDF("g", "x", "y").coalesce(1)
        .write.mode("append").parquet(dir.toString)
    }
    val stream = spark.readStream
      .schema("g STRING, x BIGINT, y BIGINT")
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.toString)
    val updates = StreamOps.runToMemory(spark,
      StreamOps.changePointUpdates(stream, "g", col("x"), col("y")),
      "t_stream_cpt", outputMode = "update")
    assert(updates.groupBy("g").count().filter(col("count") > 1).count() == 3)
    val fin = StreamOps.converged(updates, "g")
    val batch = graft.operators.ChangePoint.meanShiftChangePoint(
      spark.read.parquet(dir.toString), Seq("g"), col("x"), col("y"))
    fin.ensureDatasetEquals(batch)
  }

  test("streaming trend: zero x-variance group reports NULL, not 0") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_trendnull_")
    dir.toFile.deleteOnExit()
    Seq(("flat", 7L, 1L), ("flat", 7L, 9L)).toDF("g", "x", "y")
      .coalesce(1).write.mode("append").parquet(dir.toString)
    val stream = spark.readStream
      .schema("g STRING, x BIGINT, y BIGINT").parquet(dir.toString)
    val got = StreamOps.runToMemory(spark,
      StreamOps.trendUpdates(stream, "g", col("x"), col("y")),
      "t_stream_trendnull", outputMode = "update")
    val r = got.orderBy(col("update_seq").desc).head()
    assert(r.getLong(2) == 2L && r.isNullAt(3))
  }

  test("streaming CDC fold converges to the batch argmax across micro-batch slices") {
    import spark.implicits._
    // out-of-order delivery across three micro-batches: the tombstone for
    // key 1 lands in batch 1, its lower-seq update in batch 3 — the state
    // must NOT resurrect the row; key 2's updates arrive ascending, key 3
    // descending
    val dir = java.nio.file.Files.createTempDirectory("graft_cdc_")
    dir.toFile.deleteOnExit()
    val batches = Seq(
      Seq((1L, "a v1", "U", 11L), (2L, "b v1", "U", 21L)),
      Seq((1L, "", "D", 13L), (3L, "c v2", "U", 32L)),
      Seq((1L, "a v0", "U", 12L), (2L, "b v2", "U", 22L), (3L, "c v1", "U", 31L)))
    batches.foreach { chunk =>
      chunk.toDF("doc_id", "text", "op", "seq").coalesce(1)
        .write.mode("append").parquet(dir.toString)
    }
    val stream = spark.readStream
      .schema("doc_id BIGINT, text STRING, op STRING, seq BIGINT")
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.toString)
    val updates = StreamOps.runToMemory(spark,
      StreamOps.cdcLastWriterUpdates(stream, "doc_id", "text"),
      "t_stream_cdc", outputMode = "update")
    // a superseded arrival emits nothing: key 1's late low-seq update
    // (after its tombstone) and key 3's descending second row must both be
    // swallowed by the state — 5 emissions for 7 changelog rows
    val nUpd = updates.groupBy("doc_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(nUpd == Map("1" -> 2L, "2" -> 2L, "3" -> 1L))
    val last = graft.operators.GroupedTopK.topKPerGroup(
      updates, Seq("doc_id"), Seq(col("seq")), 1, "__r", ascending = false)
      .drop("__r")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"),
        col("op"), col("seq"))
    val base = Seq((4L, "base row")).toDF("doc_id", "text")
    val applied = graft.operators.CdcApply.applyChangelog(
      base, last, Seq("doc_id"), Seq("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(applied == Map(2L -> "b v2", 3L -> "c v2", 4L -> "base row"))
  }

  test("streaming KMV skips NULL values exactly like the batch sketch") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_kmv_null_")
    dir.toFile.deleteOnExit()
    // every third value NULL — the batch aggregate silently skips them;
    // the stream must too (not NPE on the primitive encoder, not count them)
    (1L to 90L).map(i => (s"g${i % 2}",
        if (i % 3 == 0) null.asInstanceOf[java.lang.Long] else java.lang.Long.valueOf(i % 41)))
      .toDF("g", "v").coalesce(1).write.mode("append").parquet(dir.toString)
    val stream = spark.readStream.schema("g STRING, v BIGINT").parquet(dir.toString)
    val updates = StreamOps.runToMemory(spark,
      StreamOps.kmvDistinctUpdates(stream, "g", "v", k = 8),
      "t_stream_kmv_null", outputMode = "update")
    val fin = StreamOps.converged(updates, "g")
    val batch = graft.sketch.KmvOps.kmvDistinct(
      spark.read.parquet(dir.toString), Seq("g"), "v", k = 8)
    fin.ensureDatasetEquals(batch)
  }

  test("stream-static join replicates nothing on uniform keys, only hot keys on skew") {
    import spark.implicits._
    import graft.skew.SkewJoinConf
    val conf = SkewJoinConf(CMSeps = 1e-4, replicationFactor = 0.5)
    def replicationCol(df: org.apache.spark.sql.DataFrame) =
      graft.skew.SkewJoin.replication(Seq(df), Seq("k"), conf).head
    // uniform: every key once → rep must be 1 everywhere (< 2× input)
    val uniform = (1L to 500L).map(k => (k, s"v$k")).toDF("k", "v")
    val uniReplicated = uniform
      .withColumn("__rep", replicationCol(uniform))
      .agg(sum("__rep")).head().getLong(0)
    assert(uniReplicated < 2 * 500,
      s"uniform static side replicated $uniReplicated rows from 500")
    assert(uniReplicated == 500, s"expected zero replication, got $uniReplicated")
    // skewed: one key with 100 rows → only that key replicates
    val skewed = ((1L to 400L).map(k => (k, s"v$k")) ++
      (1 to 100).map(i => (999L, s"hot$i"))).toDF("k", "v")
    val reps = skewed
      .withColumn("__rep", replicationCol(skewed))
      .select("k", "__rep").collect().map(r => (r.getLong(0), r.getInt(1)))
    val (hot, cold) = reps.partition(_._1 == 999L)
    assert(hot.forall(_._2 > 1), s"hot key not replicated: ${hot.take(3).toSeq}")
    assert(cold.forall(_._2 == 1), s"cold keys replicated: ${cold.filter(_._2 > 1).take(3).toSeq}")
  }

  test("stream-static skew join with a hot key equals the plain batch join") {
    import spark.implicits._
    import graft.skew.SkewJoinConf
    val conf = SkewJoinConf(CMSeps = 1e-4, replicationFactor = 0.5)
    // static side with a 50-row hot key → replication engages in the join
    val static = ((1L to 50L).map(k => (k, s"dim$k")) ++
      (1 to 50).map(i => (7L, s"hotdim$i"))).toDF("user_id", "dim")
    val streamIn = batchEvents.filter(col("user_id") <= 60)
    val joined = StreamOps.streamStaticSkewJoin(
      StreamOps.eventsStream(spark, s"$sf/events.parquet")
        .filter(col("user_id") <= 60),
      static, Seq("user_id"), conf)
    // the join runs the salted layout, and the hot key really replicates
    assert(joined.queryExecution.analyzed.toString.contains("__graft_salt_l"))
    val reps = static
      .withColumn("__rep", graft.skew.SkewJoin.replication(Seq(static), Seq("user_id"), conf).head)
      .filter(col("user_id") === 7L).select("__rep").distinct()
      .collect().map(_.getInt(0))
    assert(reps.nonEmpty && reps.forall(_ > 1), s"hot key rep = ${reps.toSeq}")
    val streamed = StreamOps.runToMemory(spark,
      joined.groupBy("user_id").agg(count(lit(1)).as("n")),
      "t_stream_hotjoin")
    val batch = streamIn.join(static, Seq("user_id"), "inner")
      .groupBy("user_id").agg(count(lit(1)).as("n"))
    streamed.ensureDatasetEquals(batch)
  }

  test("salted stream-static join equals the plain batch join") {
    val cust = spark.read.parquet(s"$sf/customer.parquet")
      .withColumnRenamed("c_custkey", "user_id")
    val streamed = StreamOps.runToMemory(spark,
      StreamOps.streamStaticSkewJoin(
        StreamOps.eventsStream(spark, s"$sf/events.parquet"), cust, Seq("user_id"))
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n")),
      "t_stream_join")
    val batch = batchEvents.join(cust, Seq("user_id"), "inner")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
    streamed.ensureDatasetEquals(batch)
  }

  test("streaming throttle converges to the batch fold under SHUFFLED arrival order") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_thr_")
    dir.toFile.deleteOnExit()
    val rnd = new scala.util.Random(23)
    // bursty per-key timelines delivered out of order across micro-batches;
    // the kept-anchored recurrence is sequential, so only the buffered
    // event-set state can survive the shuffle — converged counts must
    // equal the batch throttle exactly, including a duplicate delivery
    val base = (1L to 60L).map { i =>
      val g = s"k${i % 3}"
      (g, rnd.nextInt(500).toLong, i) // (key, ts, tie)
    }
    val data = rnd.shuffle((base ++ base.take(5)).toVector) // 5 dup deliveries
    data.grouped(22).foreach { chunk =>
      chunk.toDF("g", "ts", "tie").coalesce(1)
        .write.mode("append").parquet(dir.toString)
    }
    val stream = spark.readStream
      .schema("g STRING, ts BIGINT, tie BIGINT")
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.toString)
    val updates = StreamOps.runToMemory(spark,
      StreamOps.throttleUpdates(stream, col("g"), col("ts"), col("tie"),
        cooldown = 40L),
      "t_stream_throttle", outputMode = "update")
    assert(updates.groupBy("key").count().filter(col("count") > 1).count() == 3)
    val fin = StreamOps.converged(updates, "key")
    val kept = graft.operators.Sessionize.throttle(
      base.distinct.toDF("key", "ts", "tie"), Seq("key"), "ts", "tie",
      cooldown = 40L)
    val batch = base.distinct.toDF("key", "ts", "tie")
      .groupBy("key").agg(countDistinct(col("ts"), col("tie")).as("n_events"))
      .join(kept.groupBy("key").agg(count(lit(1)).as("n_kept"),
        max("ts").as("last_kept_ts")), Seq("key"))
    fin.ensureDatasetEquals(batch)
  }

  test("streaming rollup maintenance converges to the batch delta-apply " +
      "(shuffled within causal epochs; zero row emitted, served dropped)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_rm_")
    dir.toFile.deleteOnExit()
    val rnd = new scala.util.Random(31)
    val facts = Seq(("a", 10L), ("a", 20L), ("b", 5L), ("b", 6L), ("c", 9L))
    val deltas = Seq(("a", 10L, "D"), ("c", 9L, "D"), // c fully retracted
      ("a", 7L, "I"), ("d", 1L, "I"))
    // causal epochs: every insertion lands in earlier files than the
    // retract feed (the retract-stream contract); WITHIN each epoch the
    // arrival order is shuffled — the signed fold must not care
    rnd.shuffle(facts.map { case (g, v) => (g, v, "I") }.toVector)
      .grouped(2).foreach { chunk =>
        chunk.toDF("g", "v", "op").coalesce(1)
          .write.mode("append").parquet(dir.toString)
      }
    val d2 = java.nio.file.Files.createTempDirectory("graft_rm2_")
    d2.toFile.deleteOnExit()
    rnd.shuffle(deltas.toVector).grouped(2).foreach { chunk =>
      chunk.toDF("g", "v", "op").coalesce(1)
        .write.mode("append").parquet(d2.toString)
    }
    // causal ordering rests on BOTH orderings the file source may use:
    // the epoch-2 copies get later modification times (copied after every
    // epoch-1 write) AND later-sorting names ("zz_" > "part-"), so the
    // retract files land in later micro-batches than the inserts under
    // maxFilesPerTrigger=1 regardless of which criterion breaks ties
    java.nio.file.Files.list(d2).forEach { p =>
      if (p.getFileName.toString.endsWith(".parquet"))
        java.nio.file.Files.copy(p,
          dir.resolve("zz_" + p.getFileName.toString))
    }
    val stream = spark.readStream
      .schema("g STRING, v BIGINT, op STRING")
      .option("maxFilesPerTrigger", "1")
      .option("latestFirst", "false")
      .parquet(dir.toString)
    val updates = StreamOps.runToMemory(spark,
      StreamOps.rollupMaintainUpdates(stream, col("g"), col("v"), col("op")),
      "t_stream_rollup", outputMode = "update")
    // the fully-retracted group DID emit its zero deletion signal
    val cLast = updates.filter(col("key") === "c")
      .orderBy(col("update_seq").desc).select("n").head()
    assert(cLast.getLong(0) == 0L,
      "fully-retracted group must emit its n=0 deletion row")
    val fin = StreamOps.converged(updates, "key")
      .withColumnRenamed("sum_v", "v")
      .filter(col("n") > 0)
    val batch = graft.operators.RollupMaintain.applyAggDelta(
      facts.toDF("key", "v").groupBy("key")
        .agg(count(lit(1)).as("n"), sum("v").as("v")),
      deltas.toDF("key", "v", "op"), Seq("key"), "n", Seq("v"))
    fin.ensureDatasetEquals(batch)
  }
}
