package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.skew.SkewJoin._

/** One op: a call into a layer that returns a DataFrame, then the
  * fingerprint action that consumes all of it. */
final case class Op(
    name: String,
    module: String,
    joinType: Option[String],
    call: () => DataFrame,
    expected: () => Fingerprint.Fp)

/** A named workload. Set-up is a repeatable input build ([[loadInputs]])
  * and [[warmupPasses]] warm-up passes; [[prepareChecks]] computes the
  * expected outputs between the two and counts in neither set-up nor the
  * timed window. */
trait Workload {
  def name: String
  def sessionConf: Map[String, String] = Map.empty
  /** Passes run before the timed window, until the JIT has compiled what
    * the ops run and the timed passes no longer speed up. */
  def warmupPasses: Int = 1
  def loadInputs(spark: SparkSession): Unit
  def prepareChecks(spark: SparkSession, group: String => String): Unit
  /** Runs the reference computations again after the timed window of a
    * traced run, so the figures that compare with them see warm code. */
  def traceReferences(spark: SparkSession, group: String => String): Unit = ()
  /** The ops of pass `i`, in the order they run. */
  def pass(spark: SparkSession, i: Int): IndexedSeq[Op]
  /** Frees what an op left behind, outside the op's timing. */
  def sweep(spark: SparkSession): Unit = ()
}

object Workloads {
  val Names: Seq[String] = Seq("skew_hot", "skew_uniform", "pipeline_sf01")

  def apply(name: String, seed: Long, dataDir: String): Workload = name match {
    case "skew_hot" => new SkewWorkload(name, hot = true, seed)
    case "skew_uniform" => new SkewWorkload(name, hot = false, seed)
    case "pipeline_sf01" => new PipelineWorkload(seed, dataDir)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (known: ${Names.mkString(", ")})")
  }
}

/** The hot-key / uniform-key inputs, after the library's `SkewWallClock`
  * generator with fewer rows and more right rows per key, so the join
  * output is large next to its input (50 rows out per left row in). On
  * four cores a pass of four ops takes 5 to 6 s, and some task runs for
  * about three quarters of each op's wall time.
  *
  * Left: [[NLeft]] rows. With a hot key, [[HotTenths]] tenths of them carry
  * key 0; the others spread over keys 1..[[NKeys]] by a seeded hash.
  * Right: [[RightMult]] rows for each key 0..NKeys-1, so every left row
  * meets RightMult right rows and the hot key owns that share of the join
  * output. Left key NKeys has no right rows, and right key 0 has no left
  * rows when nothing is hot, so the outer joins pad rows on both sides.
  * Payloads are md5 hex, so compression flatters no shuffle. */
object SkewData {
  val NLeft = 50000L
  val NKeys = 1000L
  val RightMult = 50L
  val HotTenths = 6

  private def payload(id: Column, seed: Long): Column =
    md5(concat_ws(":", id.cast("string"), lit(seed.toString)))

  def left(spark: SparkSession, seed: Long, hot: Boolean): DataFrame = {
    val spread = pmod(xxhash64(col("id"), lit(seed)), lit(NKeys)) + 1
    val key = if (hot) when(col("id") % 10 < HotTenths, lit(0L)).otherwise(spread) else spread
    spark.range(NLeft).select(key.as("key"), payload(col("id"), seed).as("pl"))
  }

  def right(spark: SparkSession, seed: Long): DataFrame =
    spark.range(NKeys * RightMult).select(
      (col("id") % NKeys).as("key"),
      payload(col("id") + 1000000000L, seed).as("pr"))
}

/** `skewJoin` with the default `SkewJoinConf`, cycling through four join
  * types. Both inputs are too large to broadcast in the setting this models,
  * so broadcast joins are off and the join is a shuffle join, as at scale;
  * AQE does not coalesce the join's partitions either, so every reduce stage
  * keeps one task per core and the hot key's task shows. */
final class SkewWorkload(val name: String, hot: Boolean, seed: Long) extends Workload {
  val JoinTypes: IndexedSeq[String] = IndexedSeq("inner", "left_outer", "full_outer", "left_semi")

  override val warmupPasses = 2

  override val sessionConf: Map[String, String] = Map(
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "false")

  private var left: DataFrame = _
  private var right: DataFrame = _
  private val expected = scala.collection.mutable.Map.empty[String, Fingerprint.Fp]
  /** Spark's own join + AQE on the same inputs: wall seconds and the
    * fingerprint frame (for its exchanges), per join type. */
  val plain = scala.collection.mutable.LinkedHashMap.empty[String, (Double, DataFrame)]

  def loadInputs(spark: SparkSession): Unit = {
    left = SkewData.left(spark, seed, hot).localCheckpoint()
    right = SkewData.right(spark, seed).localCheckpoint()
  }

  def prepareChecks(spark: SparkSession, group: String => String): Unit = plainJoins(spark, group)

  override def traceReferences(spark: SparkSession, group: String => String): Unit =
    plainJoins(spark, group)

  private def plainJoins(spark: SparkSession, group: String => String): Unit =
    JoinTypes.foreach { jt =>
      spark.sparkContext.setJobGroup(group(s"plain_$jt"), s"plain $jt join")
      try {
        val t0 = System.nanoTime()
        val fp = Fingerprint.frame(left.join(right, Seq("key"), jt))
        expected(jt) = Fingerprint.read(fp)
        plain(jt) = ((System.nanoTime() - t0) / 1e9, fp)
      } finally spark.sparkContext.clearJobGroup()
    }

  def pass(spark: SparkSession, i: Int): IndexedSeq[Op] = JoinTypes.map { jt =>
    Op(jt, "skew", Some(jt),
      () => left.skewJoin(right, Seq("key"), jt),
      () => expected.getOrElse(jt, sys.error(s"no reference for $jt")))
  }
}

/** A fixed list of the library's named queries on the seed-42 sf0.1 tables
  * kept under `data/sf0.1`. The seed permutes the op order of each pass.
  * Expected outputs are fingerprints pinned in `pins/pipeline_sf01.tsv`. */
final class PipelineWorkload(seed: Long, dataDir: String) extends Workload {
  val name = "pipeline_sf01"

  // the JIT keeps compiling through the second and third pass: after one
  // warm-up pass the timed passes still shrank from 6.6 to 5.2 s and their
  // process CPU from 18.7 to 11.3 s, so a run's medians depended on how far
  // down that slope its few passes fell
  override val warmupPasses = 3

  /** query -> (module of its operator, skew join type if any). */
  val Queries: IndexedSeq[(String, String, Option[String])] = IndexedSeq(
    ("text_tfidf", "llm", None),
    ("events_rfm", "operators", None),
    ("stream_skewjoin", "streaming", None),
    ("skewjoin_semi", "skew", Some("left_semi")))

  val Tables: Seq[String] = Seq("customer", "documents", "events", "orders")

  // the library bench's session settings, so plans (and job counts) agree
  override val sessionConf: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.files.maxPartitionBytes" -> "4m")

  private lazy val pins: Map[String, Fingerprint.Fp] = Pins.load(name)

  def loadInputs(spark: SparkSession): Unit =
    Tables.foreach(t => spark.read.parquet(s"$dataDir/$t.parquet").count())

  def prepareChecks(spark: SparkSession, group: String => String): Unit = {
    val missing = Queries.map(_._1).filterNot(pins.contains)
    require(missing.isEmpty, s"no pinned fingerprint for ${missing.mkString(", ")}")
    val unknown = Queries.map(_._1).filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"not in SparkEntry.queries: ${unknown.mkString(", ")}")
  }

  def pass(spark: SparkSession, i: Int): IndexedSeq[Op] =
    new scala.util.Random(seed * 1000003L + i).shuffle(Queries).map { case (q, module, jt) =>
      Op(q, module, jt,
        () => graft.SparkEntry.queries(q)(spark, dataDir),
        () => pins(q))
    }

  /** The library bench's sweep between queries: cached frames, persisted
    * RDDs and streaming state stores left by one query would tax the next. */
  override def sweep(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    org.apache.spark.sql.graftshim.Bridge.unloadStateStores()
  }
}

/** Pinned fingerprints, one `query<TAB>rows:hashSum` line each. */
object Pins {
  def parse(lines: Seq[String]): Map[String, Fingerprint.Fp] =
    lines.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      l.split("\t") match {
        case Array(q, fp) => q -> Fingerprint.Fp.parse(fp)
        case _ => throw new IllegalArgumentException(s"bad pin line: '$l'")
      }
    }.toMap

  def load(workload: String): Map[String, Fingerprint.Fp] = {
    val path = s"pins/$workload.tsv"
    val in = Option(getClass.getClassLoader.getResourceAsStream(path))
      .getOrElse(throw new IllegalStateException(s"missing resource $path"))
    try parse(scala.io.Source.fromInputStream(in, "UTF-8").getLines().toSeq)
    finally in.close()
  }
}
