package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamOps
import graft.testkit.DatasetComparisons._

/** How a bounded replay sizes itself: [[StreamOps.runToMemory]] derives the
  * state partitions from its plan's file-source bytes and skips the
  * eviction-only no-data micro-batch only when that batch emits nothing.
  * Observed through the queries' own progress reports. */
class ReplaySizingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val perPartition = 256L << 10

  /** Executed micro-batches of one replay: (batch id, state partitions). */
  private case class Batches(ids: Seq[Long], statePartitions: Seq[Int])

  /** Runs `start`, collecting the progress of every executed micro-batch
    * (idle reports carry no `addBatch` time) of the query named `name`. */
  private def observed(name: String)(start: => DataFrame): (DataFrame, Batches) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int)]()
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.name == name && p.durationMs.containsKey("addBatch"))
          seen.add((p.batchId, p.stateOperators.map(_.numShufflePartitions.toInt)
            .foldLeft(0)(math.max)))
      }
    }
    spark.streams.addListener(listener)
    try {
      val out = start
      Bridge.drainListeners(spark.sparkContext)
      val xs = seen.asScala.toSeq.sortBy(_._1)
      (out, Batches(xs.map(_._1), xs.map(_._2)))
    } finally spark.streams.removeListener(listener)
  }

  private def withTempDir(prefix: String)(f: Path => Unit): Unit = {
    val dir = Files.createTempDirectory(prefix)
    try f(dir)
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  /** A small event log in the events fixture's columns: 2 000 events one
    * minute apart over 20 users, event types cycling view/click/purchase. */
  private def withEvents(f: String => Unit): Unit =
    withTempDir("graft_replay_events") { dir =>
      spark.range(0, 2000, 1, 1).select(
          col("id").as("event_id"),
          timestamp_seconds(col("id") * 60 + 1704067200L).as("ts"),
          (col("id") % 20).as("user_id"),
          element_at(array(lit("view"), lit("click"), lit("purchase")),
            (col("id") % 3 + 1).cast("int")).as("event_type"),
          rand(3).as("value"))
        .write.mode("overwrite").parquet(dir.toString)
      f(dir.toString)
    }

  /** Random doubles do not compress: ~600 KB of parquet, enough that the
    * byte rule lands strictly between 1 and the session's 8 partitions. */
  private def writeRandom(dir: Path, partitioned: Boolean): Unit = {
    val df = spark.range(0, 40000, 1, 1)
      .select(col("id"), rand(7).as("v"), (col("id") % 3).cast("string").as("date"))
    val w = df.coalesce(1).write.mode("overwrite")
    (if (partitioned) w.partitionBy("date") else w).parquet(dir.toString)
  }

  private def parquetFiles(dir: Path): Seq[Path] =
    Files.walk(dir).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet")).toSeq

  private def byteRule(bytes: Long): Int = {
    val n = ((bytes + perPartition - 1) / perPartition).toInt
    assert(n > 1 && n < spark.sessionState.conf.numShufflePartitions,
      s"fixture of $bytes B must size strictly between 1 and the session setting")
    n
  }

  test("a nested date=/part-* directory given as a file: URI gets its byte-derived count") {
    withTempDir("graft_replay_nested") { dir =>
      writeRandom(dir, partitioned = true)
      assert(Files.list(dir).iterator().asScala
        .exists(_.getFileName.toString.startsWith("date=")))
      val want = byteRule(parquetFiles(dir).map(Files.size).sum)
      val uri = dir.toUri.toString
      assert(uri.startsWith("file:"))
      val stream = spark.readStream.schema(spark.read.parquet(uri).schema).parquet(uri)
      val (out, b) = observed("t_replay_nested") {
        StreamOps.runToMemory(spark, stream.groupBy("date").count(), "t_replay_nested")
      }
      assert(b.statePartitions.distinct == Seq(want))
      assert(out.agg(sum("count")).head().getLong(0) == 40000L)
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "8", "session conf restored")
    }
  }

  test("a lone parquet file gets the count of its own bytes") {
    withTempDir("graft_replay_lone") { dir =>
      writeRandom(dir, partitioned = false)
      val Seq(file) = parquetFiles(dir)
      val want = byteRule(Files.size(file))
      val (_, b) = observed("t_replay_lone") {
        StreamOps.runToMemory(spark,
          StreamOps.parquetStream(spark, file.toString).groupBy("date").count(),
          "t_replay_lone")
      }
      assert(b.statePartitions.distinct == Seq(want))
    }
  }

  test("a lone file streams in place: no temp dir, only its own rows, glob characters literal") {
    withTempDir("graft_replay_glob") { dir =>
      def rows(counts: DataFrame) =
        counts.collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
      writeRandom(dir.resolve("one"), partitioned = false)
      val want = rows(spark.read.parquet(dir.resolve("one").toString).groupBy("date").count())
      // a sibling that an unescaped `ev{1,2}*?.parquet` glob would also match
      spark.range(0, 5).select(col("id"), rand(7).as("v"), lit("x").as("date"))
        .coalesce(1).write.parquet(dir.resolve("decoy").toString)
      val nested = Files.createDirectory(dir.resolve("in[1]{a,b}"))
      val file = Files.move(parquetFiles(dir.resolve("one")).head,
        nested.resolve("ev{1,2}*?.parquet"))
      Files.move(parquetFiles(dir.resolve("decoy")).head, nested.resolve("ev1x.parquet"))
      def tempStreamDirs() = Files.list(Path.of(System.getProperty("java.io.tmpdir")))
        .iterator().asScala.count(_.getFileName.toString.startsWith("graft_stream_"))
      val before = tempStreamDirs()
      val out = StreamOps.runToMemory(spark,
        StreamOps.parquetStream(spark, file.toString).groupBy("date").count(),
        "t_replay_glob")
      assert(tempStreamDirs() == before, "a lone-file stream must not create a temp dir")
      assert(rows(out) == want)
    }
  }

  test("a MemoryStream source gets the session setting, never 1") {
    import spark.implicits._
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Int]
    input.addData(1, 2, 2, 3)
    val (out, b) = observed("t_replay_memory") {
      StreamOps.runToMemory(spark,
        input.toDF().groupBy("value").count(), "t_replay_memory")
    }
    assert(b.statePartitions.distinct == Seq(8))
    assert(out.orderBy("value").as[(Int, Long)].collect().toSeq ==
      Seq((1, 1L), (2, 2L), (3, 1L)))
  }

  test("an append-mode windowed aggregate keeps the rows its eviction pass emits") {
    withEvents { path =>
      val (out, b) = observed("t_replay_window_append") {
        StreamOps.runToMemory(spark,
          StreamOps.windowedCounts(StreamOps.eventsStream(spark, path)),
          "t_replay_window_append", outputMode = "append")
      }
      val batch = graft.sources.EventTime.withTsNs(spark.read.parquet(path))
      val watermark = batch.agg(max("ts")).head().getTimestamp(0).getTime * 1000 -
        3600L * 1000 * 1000
      val closed = batch
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), min("value").as("min_v"), max("value").as("max_v"))
        .filter(unix_micros(col("window.end")) <= watermark)
      assert(!closed.isEmpty)
      out.ensureDatasetEquals(closed)
      // one data batch holds the watermark at the epoch; only the no-data
      // batch after it advances the watermark and emits the closed windows
      assert(b.ids == Seq(0L, 1L))
    }
  }

  test("a dropDuplicatesWithinWatermark replay keeps its no-data pass and every key") {
    withEvents { path =>
      val (out, b) = observed("t_replay_dedup_wm") {
        StreamOps.runToMemory(spark,
          StreamOps.dedupKeys(StreamOps.eventsStream(spark, path),
            Seq("user_id", "event_type"), withinWatermark = Some(("ts", "1 hour"))),
          "t_replay_dedup_wm", outputMode = "append")
      }
      assert(b.ids == Seq(0L, 1L))
      out.ensureDatasetEquals(
        spark.read.parquet(path).select("user_id", "event_type").distinct())
    }
  }

  test("an inner interval join runs one micro-batch fewer than with the no-data batch on") {
    withEvents { path =>
      def joined = {
        val ev = StreamOps.eventsStream(spark, path)
        val purch = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("p_event_id"), col("ts"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("c_event_id"), col("ts"))
        StreamOps.intervalJoin(purch, clicks, Seq("user_id"), "0 SECOND", "1 HOUR")
          .select("p_event_id", "user_id", "c_event_id")
      }
      val (got, replay) = observed("t_replay_ivj") {
        StreamOps.runToMemory(spark, joined, "t_replay_ivj", outputMode = "append")
      }
      val (want, forcedOn) = observed("t_replay_ivj_nodata") {
        assert(spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled") == "true")
        val q = joined.writeStream.outputMode("append").format("memory")
          .queryName("t_replay_ivj_nodata").start()
        try q.processAllAvailable() finally q.stop()
        spark.table("t_replay_ivj_nodata")
      }
      assert(forcedOn.ids == Seq(0L, 1L))
      assert(replay.ids == Seq(0L))
      assert(!want.isEmpty)
      got.ensureDatasetEquals(want)
    }
  }
}
